"""The benchmark's workloads.

Each workload generates its inputs from the seed, runs one job through
the engine's public functions, and checks the job's output. ``run`` takes
a ``Tracer``; with tracing off it only builds and executes the job, with
tracing on it also wraps each layer call in a span and forces the layer's
result at its boundary.
"""

from __future__ import annotations

import os
import random
from functools import reduce

import duckdb
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from sig_etl_spark.extract import extract_records, read_landing, stabilize_columns
from sig_etl_spark.functions import (
    fold_ascii,
    glyph_translate,
    good_bad_pct,
    parse_name,
    parse_party_state_district,
    split_multi_candidate,
    url_tail_id,
)
from sig_etl_spark.linkage import ColumnRule, MatchConfig, fuzzy_match
from sig_etl_spark.llm.dedup import (
    banded_signatures,
    canonical_by_quality,
    connected_components,
    exact_dedup,
    minhash_lsh_pairs,
)
from sig_etl_spark.llm.text_analysis import exact_hash
from sig_etl_spark.pipeline import STAGES, Pipeline
from sig_etl_spark.sources import read_stage_csv
from sig_etl_spark.vsdb import derive_params, election_candidates_by_year

import gen
from spans import Tracer, task_skew

STATUSES = {"matched", "review", "unmatched"}


def _count_char(c, ch: str):
    return F.length(c) - F.length(F.regexp_replace(c, "\\" + ch, ""))


def _pr(pred: pd.Series, truth: pd.Series) -> tuple[float, float]:
    """Precision/recall of predicted ids against planted ids ('' = none)."""
    predicted = pred.notna()
    correct = predicted & (pred == truth)
    return (correct.sum() / max(predicted.sum(), 1),
            correct.sum() / max((truth != "").sum(), 1))


def check_matches(out: pd.DataFrame, x_ids: pd.Series) -> list[str]:
    """Structural checks every fuzzy_match output must pass."""
    fails = []
    if len(out) != len(x_ids):
        fails.append(f"{len(out)} output rows for {len(x_ids)} transformed rows")
    if out["x_id"].duplicated().any():
        fails.append("duplicate x ids in the output")
    if set(out["x_id"]) != set(x_ids):
        fails.append("output x ids differ from the transformed x ids")
    bad = set(out["match_status"]) - STATUSES
    if bad:
        fails.append(f"unknown match statuses {sorted(bad)}")
    if ((out["match_status"] == "unmatched") != out["candidate_id"].isna()).any():
        fails.append("candidate_id is not null exactly when unmatched")
    return fails


def replay_sql(config: MatchConfig, x_cols: list[str]) -> str:
    """DuckDB replay of the documented fuzzy_match semantics for configs
    whose rules all use the levenshtein scorer (tables ``x`` and ``y``).
    Same shape as the registry oracles (queries/pipeline_demo.py)."""
    if config.sub_block:
        raise ValueError("replay covers configs without a sub-block key only")
    on = [f"x.{k} = y.{k}" for k in config.block_on]
    scores, num, den = [], [], []
    for i, r in enumerate(config.rules):
        if r.scorer != "levenshtein":
            raise ValueError("replay covers levenshtein rules only")
        a = f"x.{r.x_column}"
        ratios = [
            f"100.0 * (1.0 - levenshtein({a}, coalesce(y.{c}, '')) "
            f"/ greatest(length({a}), length(coalesce(y.{c}, '')), 1))"
            for c in r.y_columns
        ]
        raw = ratios[0] if len(ratios) == 1 else f"greatest({', '.join(ratios)})"
        part = f"({a} IS NOT NULL AND {a} <> '')"
        scores.append(
            f"CASE WHEN {part} THEN (CASE WHEN {raw} >= {r.threshold} THEN {raw} "
            f"ELSE 0.0 END) END AS s{i}"
        )
        num.append(f"coalesce(s{i} * {r.weight}, 0.0)")
        den.append(f"CASE WHEN {r.x_column} IS NOT NULL AND {r.x_column} <> '' "
                   f"THEN {r.weight} ELSE 0.0 END")
    xs = ", ".join(f"x.{c}" for c in x_cols)
    req, dup = config.required_threshold, config.duplicate_threshold
    return f"""
WITH scored AS (
  SELECT {xs}, y.{config.y_id} AS y_id, {', '.join(scores)}
  FROM x LEFT JOIN y ON {' AND '.join(on)}
),
combined AS (
  SELECT *, CASE WHEN y_id IS NULL THEN 0.0
                 WHEN ({' + '.join(den)}) > 0
                 THEN ({' + '.join(num)}) / ({' + '.join(den)})
                 ELSE 0.0 END AS c
  FROM scored
),
win AS (
  SELECT *,
         row_number() OVER (PARTITION BY x_id ORDER BY c DESC, y_id ASC NULLS LAST) AS rn,
         max(c) OVER (PARTITION BY x_id) AS best,
         CAST(sum(CASE WHEN c >= {req} THEN 1 ELSE 0 END) OVER (PARTITION BY x_id) AS BIGINT)
           AS ncand
  FROM combined
),
near AS (
  SELECT *, CAST(sum(CASE WHEN c >= {req} AND best - c <= {dup} THEN 1 ELSE 0 END)
                 OVER (PARTITION BY x_id) AS BIGINT) AS nnear
  FROM win
)
SELECT x_id,
       CASE WHEN c >= {req} THEN y_id END AS candidate_id,
       round(c, 6) AS match_score,
       ncand AS n_candidates,
       CASE WHEN c < {req} THEN 'unmatched' WHEN nnear > 1 THEN 'review'
            ELSE 'matched' END AS match_status
FROM near WHERE rn = 1
"""


def compare_replay(got: pd.DataFrame, want: pd.DataFrame) -> list[str]:
    g = got.set_index("x_id").sort_index()
    w = want.set_index("x_id").sort_index()
    if list(g.index) != list(w.index):
        return ["replay: x ids differ"]
    fails = []
    for col in ("candidate_id", "match_status", "n_candidates"):
        a, b = g[col], w[col]
        same = (a == b) | (a.isna() & b.isna())
        if not same.all():
            fails.append(f"replay: {(~same).sum()} rows differ in {col}")
    if ((g["match_score"] - w["match_score"]).abs() > 2e-6).any():
        fails.append("replay: match_score differs")
    return fails


def candidate_pairs(x_blocks: pd.Series, y_blocks: pd.Series) -> int:
    """Σ over blocks of |x_b|·|y_b| from per-row block keys."""
    xc, yc = x_blocks.value_counts(), y_blocks.value_counts()
    return int((xc * yc.reindex(xc.index, fill_value=0)).sum())


# ---------------------------------------------------------------------------
# etm_batch: one extract -> transform -> match Pipeline.run
# ---------------------------------------------------------------------------

METHODOLOGY = {"Y": "+", "+": "+", "N": "-", "-": "-", "X": "*", "A": "*"}

ETM_CONFIG = MatchConfig(
    rules=(
        ColumnRule("lastname", ("y_last",), scorer="levenshtein", threshold=80.0),
        ColumnRule("firstname", ("y_first", "y_nick", "y_middle"), scorer="levenshtein",
                   threshold=75.0),
    ),
    block_on=("state_id",),
    y_id="y_id",
    required_threshold=80.0,
    duplicate_threshold=3.0,
    broadcast_y=True,
)
_ETM_X = ["x_id", "state_id", "firstname", "lastname"]


class EtmBatch:
    name = "etm_batch"

    def __init__(self, root: str, seed: int):
        self.root, self.seed = root, seed

    def generate(self) -> None:
        self.info = gen.gen_etm(self.root, self.seed, pages=36, candidates=1000)
        self.truth = pd.read_csv(os.path.join(self.root, "truth.csv"), dtype=str,
                                 keep_default_na=False)
        self.records = self.info["records"]
        landing = os.path.join(self.root, "landing")
        self.landing_bytes = sum(os.path.getsize(os.path.join(landing, f))
                                 for f in os.listdir(landing))

    def _vsdb(self, table: str) -> str:
        return os.path.join(self.root, "vsdb", f"{table}.csv")

    def run(self, spark, tr: Tracer, wd: str) -> dict:
        ctx: dict = {}
        landing = os.path.join(self.root, "landing")

        def extract(spark, _):
            with tr.span("extract", "extract"):
                parts = [
                    extract_records(read_landing(spark, landing, glob=f"{layout}_*.html"),
                                    parser=layout)
                    for layout in ("cards", "table", "nested")
                ]
                recs = tr.force(reduce(DataFrame.unionByName, parts))
                with tr.span("extract.key_scan", "extract"):
                    flat = stabilize_columns(recs, keys=None)
                return tr.force(flat.drop("modificationTime"))

        def transform(spark, df):
            with tr.span("pipeline.reentry_read", "pipeline"):
                df = tr.force(df)
            with tr.span("functions", "functions"):
                df = split_multi_candidate(df, ["full_name", "party"])
                name = parse_name(fold_ascii(F.col("full_name")))
                psd = parse_party_state_district(F.col("party"))
                votes = glyph_translate(F.split(F.trim(F.col("votes")), " "), METHODOLOGY)
                out = df.select(
                    F.concat_ws("#", "rec", F.col("candidacy").cast("string")).alias("x_id"),
                    F.col("year").alias("election_year"),
                    psd["state_id"].alias("state_id"),
                    psd["party"].alias("party"),
                    psd["district"].alias("district"),
                    *[name[k].alias(k) for k in
                      ("firstname", "middlename", "lastname", "suffix", "nickname")],
                    url_tail_id(F.col("candidate_url")).alias("source_id"),
                    votes.alias("vote_string"),
                )
                out = out.withColumn(
                    "vote_pct",
                    good_bad_pct(_count_char(F.col("vote_string"), "+"),
                                 _count_char(F.col("vote_string"), "-")),
                )
                return tr.force(out)

        def match(spark, x):
            with tr.span("pipeline.reentry_read", "pipeline"):
                x = tr.force(x)
            with tr.span("sources.read_csv", "sources"):
                cand, elec, office = (tr.force(read_stage_csv(spark, self._vsdb(t)))
                                      for t in ("candidate", "election", "office"))
            with tr.span("vsdb.params", "vsdb"):
                params = derive_params(x, {"years": "election_year", "states": "state_id"})
            with tr.span("vsdb.candidates", "vsdb"):
                dim = election_candidates_by_year(
                    cand, elec, office, params["years"], state_ids=params["states"]
                ).select(
                    F.col("candidate_id").alias("y_id"), "state_id",
                    F.col("firstname").alias("y_first"), F.col("nickname").alias("y_nick"),
                    F.col("middlename").alias("y_middle"), F.col("lastname").alias("y_last"),
                )
                dim = ctx["dim"] = tr.force(dim)
            with tr.span("linkage", "linkage"):
                return tr.force(fuzzy_match(x, dim, ETM_CONFIG))

        pipe = Pipeline(spark, workdir=wd, base_name="2024_NA_Scorecard_Ratings-",
                        stages={"extract": extract, "transform": transform, "match": match},
                        csv_export=False)
        if tr.enabled:
            for s in STAGES:
                with tr.span(f"pipeline.{s}", "pipeline"):
                    out = pipe.run(from_stage=s, to_stage=s)
        else:
            out = pipe.run()
        ctx.update(pipe=pipe, out=out)
        return ctx

    def check(self, spark, res: dict) -> tuple[list[str], float, float]:
        pipe = res["pipe"]
        out = res["out"].select("x_id", "state_id", "candidate_id", "match_score",
                                "n_candidates", "match_status").toPandas()
        x = spark.read.parquet(pipe.checkpoint_path("transform"))
        x_ids = x.select("x_id").toPandas()["x_id"]
        fails = check_matches(out, x_ids)
        if set(x_ids) != set(self.truth["x_id"]):
            fails.append("transformed x ids differ from the planted candidacies")
        merged = out.merge(self.truth, on="x_id", how="left", suffixes=("", "_true"))
        precision, recall = _pr(merged["candidate_id"], merged["candidate_id_true"].fillna(""))

        # DuckDB replay of fuzzy_match on a seeded sample of blocks.
        states = sorted(s for s in out["state_id"].unique() if s)
        sample = random.Random(f"{self.seed}:replay").sample(states, min(4, len(states)))
        xs = x.filter(F.col("state_id").isin(sample)).select(*_ETM_X, "election_year").toPandas()
        years = sorted(r[0] for r in x.select("election_year").distinct().collect() if r[0])
        con = duckdb.connect()
        try:
            con.register("x", xs)
            for t in ("candidate", "election"):
                con.execute(f"CREATE TABLE {t} AS SELECT * FROM "
                            f"read_csv('{self._vsdb(t)}', header=true, all_varchar=true)")
            con.execute(f"""
                CREATE TABLE y AS
                SELECT candidate_id AS y_id, state_id, firstname AS y_first,
                       coalesce(nickname, '') AS y_nick, coalesce(middlename, '') AS y_middle,
                       lastname AS y_last
                FROM (SELECT c.*, e.state_id, row_number() OVER (
                        PARTITION BY c.candidate_id
                        ORDER BY e.election_year DESC, e.election_id ASC) AS rn
                      FROM candidate c JOIN election e USING (candidate_id)
                      WHERE e.election_year IN ({', '.join(f"'{y}'" for y in years)}))
                WHERE rn = 1 AND state_id IN ({', '.join(f"'{s}'" for s in sample)})
            """)
            want = con.execute(replay_sql(ETM_CONFIG, _ETM_X)).df()
        finally:
            con.close()
        got = out[out["state_id"].isin(sample)].drop(columns="state_id")
        fails += compare_replay(got, want)
        res["pandas"] = out
        return fails, precision, recall

    def layer_metrics(self, spark, tr: Tracer, res: dict) -> dict:
        pipe, out = res["pipe"], res["pandas"]
        ext = spark.read.parquet(pipe.checkpoint_path("extract"))
        x = spark.read.parquet(pipe.checkpoint_path("transform"))
        rows = x.count()
        null_parse = x.filter(
            F.col("lastname").isNull() | (F.col("lastname") == "")
            | F.col("state_id").isNull() | (F.col("state_id") == "")
        ).count()
        written, nbytes = 0, 0
        for s in STAGES:
            for dirpath, _, files in os.walk(pipe.stage_dir(s)):
                written += len(files)
                nbytes += sum(os.path.getsize(os.path.join(dirpath, f)) for f in files)
        x_blocks = x.select("state_id").toPandas()["state_id"]
        y_blocks = res["dim"].select("state_id").toPandas()["state_id"]
        pairs = candidate_pairs(x_blocks, y_blocks)
        return {
            "extract.key_scan_s": sum(s.duration for s in tr.by_name("extract.key_scan")),
            "extract.pages_in": self.info["pages"],
            "extract.records_out": ext.count(),
            "functions.rows_out": rows,
            "functions.parse_null_frac": null_parse / max(rows, 1),
            "pipeline.checkpoint_write_s": sum(tr.self_time(s) for s in tr.spans
                                               if s.name.startswith("pipeline.")
                                               and s.name != "pipeline.reentry_read"),
            "pipeline.reentry_read_s": sum(s.duration for s in
                                           tr.by_name("pipeline.reentry_read")),
            "pipeline.files_written": written,
            "pipeline.bytes_per_input_byte": nbytes / self.landing_bytes,
            "vsdb.params_s": sum(s.duration for s in tr.by_name("vsdb.params")),
            "vsdb.candidates_s": sum(s.duration for s in tr.by_name("vsdb.candidates")),
            "vsdb.rows_out": len(y_blocks),
            **linkage_metrics(spark, tr, out, pairs),
        }


def linkage_metrics(spark, tr: Tracer, out: pd.DataFrame, pairs: int) -> dict:
    stage_ids = [sid for s in tr.spans if s.layer == "linkage"
                 for sid in s.counters.get("stage_ids", [])]
    n = max(len(out), 1)
    return {
        "linkage.candidate_pairs": pairs,
        "linkage.pairs_per_x": pairs / n,
        "linkage.task_skew": task_skew(spark, stage_ids),
        "linkage.review_frac": float((out["match_status"] == "review").sum() / n),
        "linkage.unmatched_frac": float((out["match_status"] == "unmatched").sum() / n),
    }


# ---------------------------------------------------------------------------
# corpus_dedup: exact -> MinHash LSH -> components -> canonical keep-list
# ---------------------------------------------------------------------------

_LSH = {"k": 3, "num_hashes": 64, "bands": 16}


class CorpusDedup:
    name = "corpus_dedup"

    def __init__(self, root: str, seed: int):
        self.root, self.seed = root, seed

    def generate(self) -> None:
        self.info = gen.gen_corpus(self.root, self.seed, docs=8000)
        self.truth = pd.read_csv(os.path.join(self.root, "truth.csv"),
                                 dtype={"doc_id": "int64", "family_id": "int64"})
        self.records = self.info["docs"]

    def run(self, spark, tr: Tracer, wd: str) -> dict:
        docs = spark.read.parquet(os.path.join(self.root, "docs.parquet"))
        with tr.span("llm.dedup.exact", "llm.dedup"):
            ex = tr.force(exact_dedup(docs, "doc_id", "text"))
        survivors = ex.select(F.col("canonical_id").alias("doc_id")).join(docs, "doc_id")
        with tr.span("llm.dedup.minhash", "llm.dedup"):
            pairs = minhash_lsh_pairs(survivors, "doc_id", "text", threshold=0.5, **_LSH)
        with tr.span("llm.dedup.lsh", "llm.dedup"):
            pairs = tr.force(pairs)
        with tr.span("llm.dedup.components", "llm.dedup"):
            comp = tr.force(connected_components(
                pairs.select("id_a", "id_b"), "id_a", "id_b",
                nodes=survivors.select(F.col("doc_id").alias("node"))))
        with tr.span("llm.dedup.canonical", "llm.dedup"):
            keep = tr.force(canonical_by_quality(comp, survivors.select("doc_id", "quality")))
        final = (
            docs.select("doc_id", exact_hash(F.col("text")).alias("exact_key"))
            .join(ex.select("exact_key", "canonical_id"), "exact_key")
            .join(keep.select(F.col("doc_id").alias("canonical_id"), "cluster_id",
                              "canonical_doc_id"), "canonical_id")
            .select("doc_id", "cluster_id", "canonical_doc_id",
                    (F.col("doc_id") == F.col("canonical_doc_id")).alias("is_canonical"))
        )
        path = os.path.join(wd, "dedup.parquet")
        final.write.mode("overwrite").parquet(path)
        return {"out": spark.read.parquet(path), "pairs": pairs, "survivors": survivors}

    def check(self, spark, res: dict) -> tuple[list[str], float, float]:
        out = res["out"].toPandas()
        fails = []
        if len(out) != len(self.truth) or set(out["doc_id"]) != set(self.truth["doc_id"]):
            fails.append("not every document sits in exactly one cluster")
        if out["doc_id"].duplicated().any() or out["cluster_id"].isna().any():
            fails.append("a document has no cluster or several")
        kept = out.groupby("cluster_id")["is_canonical"].sum()
        if (kept != 1).any():
            fails.append(f"{int((kept != 1).sum())} clusters do not keep exactly one document")
        if (out.groupby("cluster_id")["canonical_doc_id"].nunique() != 1).any():
            fails.append("a cluster names several canonical documents")
        m = out.merge(self.truth, on="doc_id")
        exact = m[m["kind"] == "exact"]
        if (exact.groupby("family_id")["cluster_id"].nunique() > 1).any():
            fails.append("planted exact duplicates did not collapse into one cluster")

        def pairs(counts: pd.Series) -> int:
            return int((counts * (counts - 1) // 2).sum())

        predicted = pairs(m.groupby("cluster_id").size())
        planted = pairs(m.groupby("family_id").size())
        both = pairs(m.groupby(["cluster_id", "family_id"]).size())
        res["pandas"] = out
        return fails, both / max(predicted, 1), both / max(planted, 1)

    def layer_metrics(self, spark, tr: Tracer, res: dict) -> dict:
        a = banded_signatures(res["survivors"], "doc_id", "text", seed=42, side="a", **_LSH)
        b = a.select(F.col("id_a").alias("id_b"), "band", "bucket")
        bucket_pairs = (a.join(b, ["band", "bucket"]).filter(F.col("id_a") < F.col("id_b"))
                        .select("id_a", "id_b").distinct().count())
        verified = res["pairs"].count()

        def dur(name):
            return sum(s.duration for s in tr.by_name(name))

        return {
            "llm.dedup.exact_s": dur("llm.dedup.exact"),
            "llm.dedup.minhash_s": dur("llm.dedup.minhash"),
            "llm.dedup.lsh_s": dur("llm.dedup.lsh"),
            "llm.dedup.components_s": dur("llm.dedup.components"),
            "llm.dedup.canonical_s": dur("llm.dedup.canonical"),
            "llm.dedup.bucket_pairs": bucket_pairs,
            "llm.dedup.verify_yield": verified / max(bucket_pairs, 1),
        }


WORKLOADS = {w.name: w for w in (EtmBatch, CorpusDedup)}
