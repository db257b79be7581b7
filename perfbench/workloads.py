"""The three benchmark workloads, written against the package's public API.

Each workload stages its seeded inputs once (``stage``), then runs one
steady-state job per ``run_pass`` call. ``check`` verifies the output of
the same code path outside the timed window. Every public call sits in a
``tr.span``; with the no-op tracer of untraced runs the spans cost
nothing and ``tr.force`` returns its argument untouched, so the timed
path is the plain production shape.
"""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from openmldb_spark import (
    Agg, CheckpointedJob, WindowSpecFE, ffill, last_join, sessionize,
    window_agg)
from openmldb_spark.pipeline import pack_chunks, pack_offsets
from openmldb_spark.pipeline.decontam import contamination_scores
from openmldb_spark.pipeline.dedup import (
    dedup_components, exact_dedup, line_dedup, minhash_lsh_pairs,
    ngram_jaccard_pairs)
from openmldb_spark.pipeline.sampling import downsample_per_key, split_column
from openmldb_spark.pipeline.text import gopher_quality, scrub_pii

import gen

# input sizes per scale; "tiny" is the self-test's
SIZES = {
    "full": {"pit_convs": 2400, "kernel_convs": 640, "docs": 1500},
    "tiny": {"pit_convs": 60, "kernel_convs": 40, "docs": 400},
}


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Workload:
    """One workload: ``stage`` writes the seeded inputs, ``run_pass`` runs
    one job, ``check`` returns the output errors found (empty if none)."""

    name = ""
    unit = "rows"                  # what rows_per_s counts
    n_input = 0

    def stage(self, seed: int, work: str, scale: str) -> None:
        raise NotImplementedError

    def run_pass(self, spark, tr) -> None:
        raise NotImplementedError

    def check(self, spark) -> list[str]:
        raise NotImplementedError


def _write(pdf: pd.DataFrame, path: str) -> str:
    pdf.to_parquet(path, index=False)
    return path


# ---------------------------------------------------------------------------
# pit_backfill


WINDOW_MS = 10 * 60 * 1000
PIT_AGGS = [
    Agg("cnt_10m", "count", "n_tokens"),
    Agg("sum_10m", "sum", "n_tokens"),
    Agg("avg_10m", "avg", "n_tokens"),
    Agg("max_10m", "max", "n_tokens"),
    Agg("prev_tokens", "lag", "n_tokens", n=1),
]


class PitBackfill(Workload):
    """The production backfill shape (``jobs/submit_job.build``) over
    transcript turns: a ``CheckpointedJob`` of sessionize -> native
    ROWS_RANGE window_agg -> sort-merge as-of last_join against
    ``conv_meta`` -> ffill, each stage written to parquet."""

    name = "pit_backfill"

    def stage(self, seed, work, scale):
        turns = gen.transcripts(seed, SIZES[scale]["pit_convs"])
        meta = gen.conv_meta(seed, turns)
        self.n_input = len(turns)
        self.n_valid = int(turns["ts"].notna().sum())
        self.paths = {"turns": _write(turns, f"{work}/turns.parquet"),
                      "meta": _write(meta, f"{work}/conv_meta.parquet"),
                      "ckpt": f"{work}/ckpt"}

    def _job(self, spark, tr) -> CheckpointedJob:
        turns_path, meta_path = self.paths["turns"], self.paths["meta"]

        def s_sessions(s):
            turns = s.read.parquet(turns_path)
            with tr.span("sessionize"):
                out = sessionize(turns, "conv_id", "ts",
                                 gap_ms=gen.SESSION_GAP_MS,
                                 tiebreak=("turn_idx",))
                return tr.force(out)

        def s_window(s, sess):
            spec = WindowSpecFE(["conv_id"], "ts", frame="range",
                                start=WINDOW_MS, end=0, peer="sql",
                                tiebreak=("turn_idx",))
            with tr.span("window_agg.native"):
                return tr.force(window_agg(sess, spec, PIT_AGGS))

        def s_asof(s, feats):
            meta = s.read.parquet(meta_path)
            with tr.span("last_join"):
                out = last_join(feats, meta, on="conv_id", order_by="ts",
                                left_ts="ts", right_ts="ts",
                                tiebreak="version")
                return tr.force(out)

        def s_ffill(s, joined):
            with tr.span("ffill"):
                out = ffill(joined, ["segment", "score"], "conv_id", "ts",
                            tiebreak=("turn_idx",))
                return tr.force(out)

        job = CheckpointedJob(spark, self.paths["ckpt"], "pit_backfill")
        job.stage("sessions", tr.checkpointed(s_sessions),
                  inputs=[turns_path])
        job.stage("window_feats", tr.checkpointed(s_window),
                  deps=["sessions"])
        job.stage("asof", tr.checkpointed(s_asof), deps=["window_feats"],
                  inputs=[meta_path])
        job.stage("features", tr.checkpointed(s_ffill), deps=["asof"])
        return job

    def run_pass(self, spark, tr):
        job = self._job(spark, tr)
        job.run(resume=False)
        tr.close_checkpoint()
        n = job.manifest("features")["n_rows"]
        if n != self.n_valid:
            raise AssertionError(f"features has {n} rows, "
                                 f"expected {self.n_valid}")
        if tr.enabled:
            tr.note_checkpoint([job.manifest(s) for s in
                                ("sessions", "window_feats", "asof",
                                 "features")])
            out = spark.read.parquet(f"{self.paths['ckpt']}/pit_backfill/"
                                     f"features/data")
            matched = tr.count(out.filter(F.col("ts_r").isNotNull()))
            tr.metric("last_join.match_frac", matched / max(n, 1), "1")

    def check(self, spark):
        feats = f"{self.paths['ckpt']}/pit_backfill/features/data/*.parquet"
        con = duckdb.connect()
        try:
            return pit_oracle_diff(con, self.paths["turns"],
                                   self.paths["meta"], feats, self.n_valid)
        finally:
            con.close()


_DIGEST_COLS = ("conv_id, turn_idx, session_id, cnt_10m, sum_10m, "
                "round(avg_10m, 6), max_10m, prev_tokens, epoch_ms(ts_r), "
                "version, segment, round(score, 3)")


def pit_oracle_diff(con, turns: str, meta: str, feats: str,
                    n_valid: int) -> list[str]:
    """Compare the written features with a DuckDB oracle built from
    window functions and ``ASOF JOIN``; return the mismatches found."""
    con.execute(f"""
    CREATE TEMP VIEW t AS
      SELECT *, epoch_ms(ts) AS ms FROM read_parquet('{turns}')
      WHERE ts IS NOT NULL;
    CREATE TEMP VIEW sess AS
      SELECT *, sum(CASE WHEN lag_ms IS NULL
                              OR ms - lag_ms > {gen.SESSION_GAP_MS}
                    THEN 1 ELSE 0 END)
                OVER (PARTITION BY conv_id ORDER BY ms, turn_idx
                      ROWS UNBOUNDED PRECEDING) - 1 AS session_id
      FROM (SELECT *, lag(ms) OVER (PARTITION BY conv_id
                                    ORDER BY ms, turn_idx) AS lag_ms FROM t);
    CREATE TEMP VIEW w AS
      SELECT *, count(n_tokens) OVER r AS cnt_10m,
             sum(n_tokens) OVER r AS sum_10m,
             avg(n_tokens) OVER r AS avg_10m,
             max(n_tokens) OVER r AS max_10m,
             lag(n_tokens) OVER (PARTITION BY conv_id ORDER BY ms, turn_idx)
               AS prev_tokens
      FROM sess
      WINDOW r AS (PARTITION BY conv_id ORDER BY ms
                   RANGE BETWEEN {WINDOW_MS} PRECEDING AND CURRENT ROW);
    -- ties on a version ts resolve to the larger version (tiebreak)
    CREATE TEMP VIEW m AS
      SELECT conv_id, ts, version, segment, score
      FROM read_parquet('{meta}')
      QUALIFY row_number() OVER (PARTITION BY conv_id, ts
                                 ORDER BY version DESC) = 1;
    CREATE TEMP VIEW j AS
      SELECT w.*, m.ts AS ts_r, m.version, m.segment AS seg0,
             m.score AS score0
      FROM w ASOF LEFT JOIN m ON w.conv_id = m.conv_id AND w.ts >= m.ts;
    CREATE TEMP VIEW oracle AS
      SELECT *, last_value(seg0 IGNORE NULLS) OVER f AS segment,
             last_value(score0 IGNORE NULLS) OVER f AS score
      FROM j WINDOW f AS (PARTITION BY conv_id ORDER BY ms, turn_idx
                          ROWS UNBOUNDED PRECEDING);
    """)
    errs = []
    got = con.execute(f"""SELECT count(*), count_if(ts_r > ts),
        sum(hash({_DIGEST_COLS})) FROM read_parquet('{feats}')""").fetchone()
    want = con.execute(f"""SELECT count(*), 0,
        sum(hash({_DIGEST_COLS})) FROM oracle""").fetchone()
    if got[1]:
        errs.append(f"leakage: {got[1]} rows with ts_r > ts")
    if got[0] != n_valid:
        errs.append(f"{got[0]} output rows for {n_valid} non-NULL-ts inputs")
    if got[2] != want[2]:
        errs.append(f"feature digest {got[2]} != oracle {want[2]}")
    return errs


# ---------------------------------------------------------------------------
# kernel_windows


KERNEL_SPEC = WindowSpecFE(["conv_id"], "ts", frame="range", start=WINDOW_MS,
                           end=0, maxsize=10, peer="stream",
                           tiebreak=("turn_idx",))
KERNEL_AGGS = [
    Agg("top_roles", "topn_frequency", "role", n=2),
    Agg("tool_top1", "top1_ratio", "tool"),
    Agg("n_tools", "distinct_count", "tool"),
    Agg("tok_by_role", "sum_cate", "n_tokens", cate="role"),
]


class KernelWindows(Workload):
    """The default OpenMLDB window: stream-peer ROWS_RANGE with MAXSIZE
    and multiset aggregates, which only the Arrow kernel evaluates.
    Written to the noop sink, so the job does no writes."""

    name = "kernel_windows"

    def stage(self, seed, work, scale):
        turns = gen.transcripts(seed, SIZES[scale]["kernel_convs"])
        self.n_input = len(turns)
        self.paths = {"turns": _write(turns, f"{work}/turns.parquet")}
        # fixed oracle sample: the longest conversation plus a spread of
        # others, chosen by size rank so it is the same shape every seed
        sizes = turns.groupby("conv_id").size().sort_values(
            ascending=False, kind="stable")
        pick = sizes.index[[0, 1, len(sizes) // 4, len(sizes) // 2,
                            len(sizes) - 1]]
        self.sample = turns[turns["conv_id"].isin(pick)]

    def run_pass(self, spark, tr):
        turns = spark.read.parquet(self.paths["turns"])
        with tr.span("window_agg.kernel"):
            tr.action(_noop, window_agg(turns, KERNEL_SPEC, KERNEL_AGGS))

    def check(self, spark):
        ids = sorted(self.sample["conv_id"].unique())
        turns = spark.read.parquet(self.paths["turns"])
        got = (window_agg(turns, KERNEL_SPEC, KERNEL_AGGS)
               .filter(F.col("conv_id").isin(ids))
               .select("conv_id", "turn_idx",
                       *[a.name for a in KERNEL_AGGS]).toPandas())
        want = kernel_oracle(self.sample)
        key = ["conv_id", "turn_idx"]
        got = got.sort_values(key).reset_index(drop=True)
        want = want.sort_values(key).reset_index(drop=True)
        if len(got) != len(want):
            return [f"{len(got)} sample rows, oracle has {len(want)}"]
        errs = []
        for a in KERNEL_AGGS:
            g, w = got[a.name], want[a.name]
            if a.fn == "top1_ratio":
                bad = ~np.isclose(g.astype(float), w.astype(float),
                                  rtol=1e-12)
            else:
                bad = g.astype(str) != w.astype(str)
            if bad.any():
                i = int(np.flatnonzero(bad.to_numpy())[0])
                errs.append(f"{a.name}: {int(bad.sum())} mismatches, first "
                            f"{got.loc[i, key].tolist()}: {g[i]!r} != "
                            f"{w[i]!r}")
        return errs


def kernel_oracle(turns: pd.DataFrame) -> pd.DataFrame:
    """Row-by-row reference for KERNEL_SPEC/KERNEL_AGGS: stream peers
    (a row sees only rows sorted at or before it), ROWS_RANGE lower bound
    ``ts - WINDOW_MS`` inclusive, then the newest ``maxsize`` rows."""
    out = []
    d = turns[turns["ts"].notna()].copy()
    d["ms"] = d["ts"].astype("datetime64[ms]").astype(np.int64)
    for cid, g in d.groupby("conv_id", sort=True):
        g = g.sort_values(["ms", "turn_idx"], kind="stable")
        ms = g["ms"].to_numpy()
        role, tool = g["role"].to_numpy(), g["tool"].to_numpy()
        tok, tidx = g["n_tokens"].to_numpy(), g["turn_idx"].to_numpy()
        for i in range(len(g)):
            lo = max(int(np.searchsorted(ms[: i + 1], ms[i] - WINDOW_MS)),
                     i - KERNEL_SPEC.maxsize + 1)
            fr = slice(lo, i + 1)
            rc = pd.Series(role[fr]).value_counts()
            top = sorted(rc.items(), key=lambda kv: (-kv[1], kv[0]))[:2]
            keys = [k for k, _ in top] + ["NULL"] * (2 - len(top))
            tc = pd.Series(tool[fr]).value_counts()
            by_role: dict = {}
            for r, t in zip(role[fr], tok[fr]):
                by_role[r] = by_role.get(r, 0) + int(t)
            out.append({
                "conv_id": cid, "turn_idx": int(tidx[i]),
                "top_roles": ",".join(keys),
                "tool_top1": tc.max() / tc.sum(),
                "n_tools": len(tc),
                "tok_by_role": ",".join(f"{r}:{by_role[r]}"
                                        for r in sorted(by_role)),
            })
    return pd.DataFrame(out)


# ---------------------------------------------------------------------------
# corpus_curation


class CorpusCuration(Workload):
    """The stages of ``examples/curation_pipeline.curate`` over a
    generated corpus: boilerplate-line removal, PII scrub, Gopher filter,
    exact then MinHash/LSH near-dup removal, decontamination, per-source
    sampling, split and token packing."""

    name = "corpus_curation"
    unit = "docs"

    def stage(self, seed, work, scale):
        docs, self.exact_pairs = gen.documents(seed, SIZES[scale]["docs"])
        self.digests, self.kept_ids = [], []
        self.n_input = len(docs)
        self.paths = {"docs": _write(docs, f"{work}/documents.parquet")}

    def _kept(self, spark, tr):
        docs = spark.read.parquet(self.paths["docs"])
        with tr.span("line_dedup"):
            cleaned = tr.force(line_dedup(docs, "text", "doc_id",
                                          max_occurrences=2))
        if tr.enabled:
            lines = F.size(F.split(F.coalesce("text", F.lit("")), "\n"))
            before = tr.count_sum(docs, lines)
            tr.metric("line_dedup.lines_removed",
                      before - tr.count_sum(cleaned, lines), "count")
        with tr.span("scrub_pii"):
            docs = tr.force(cleaned.withColumn("text",
                                               scrub_pii(F.col("text"))))
        with tr.span("gopher_quality"):
            docs = tr.force(gopher_quality(docs, min_tokens=10,
                                           max_tokens=100_000,
                                           min_stopword_hits=1))
        if tr.enabled:
            tr.metric("gopher_quality.rejected",
                      tr.count(docs.filter(~F.col("gopher_keep"))), "count")
        kept = docs.filter("gopher_keep").drop("gopher_keep",
                                               "gopher_reasons")
        with tr.span("exact_dedup"):
            keep_ids = exact_dedup(kept, "text", "doc_id") \
                .select(F.col("keep_id").alias("doc_id"))
            kept = tr.force(kept.join(keep_ids, "doc_id", "left_semi"))
        with tr.span("minhash_lsh_pairs"):
            cand = tr.force(minhash_lsh_pairs(kept, "text", "doc_id",
                                              num_hashes=64, bands=16))
        with tr.span("ngram_jaccard_pairs"):
            verified = tr.force(
                ngram_jaccard_pairs(cand, kept, "text", "doc_id")
                .filter(F.col("jaccard") >= 0.8).select("id_a", "id_b"))
        if tr.enabled:
            n_cand, n_ver = tr.count(cand), tr.count(verified)
            tr.metric("minhash_lsh_pairs.candidates", n_cand, "count")
            tr.metric("ngram_jaccard_pairs.verified", n_ver, "count")
            tr.metric("dedup.candidate_precision",
                      n_ver / max(n_cand, 1), "1")
        with tr.span("dedup_components"):
            comp = tr.force(dedup_components(verified))
            kept = kept.join(comp.filter("doc_id != component_id"),
                             "doc_id", "left_anti")
        with tr.span("contamination_scores"):
            bench = kept.filter(F.col("doc_id") < gen.N_BENCH_DOCS) \
                .select("doc_id", "text")
            scores = contamination_scores(kept, bench)
            kept = tr.force(
                kept.join(scores.select("doc_id", "contamination"), "doc_id")
                .filter((F.col("contamination") < 0.8)
                        | (F.col("doc_id") < gen.N_BENCH_DOCS))
                .drop("contamination"))
        with tr.span("sampling"):
            kept = downsample_per_key(kept, "doc_id", "source",
                                      {"src0": 0.25, "src1": 0.5},
                                      default=1.0)
            kept = split_column(kept, "doc_id",
                                {"train": 0.9, "val": 0.05, "test": 0.05})
            kept = kept.persist()
            # the kept-id digest doubles as the action that fills the cache
            digest = tr.action(lambda: tuple(kept.agg(
                F.count("*"), F.sum(F.xxhash64("doc_id") % 1_000_003))
                .first()))
        return kept, digest

    def run_pass(self, spark, tr):
        kept = None
        try:
            kept, digest = self._kept(spark, tr)
            train = kept.filter("split = 'train'")
            with tr.span("pack_offsets"):
                offsets = pack_offsets(train, chunk_tokens=2048)
            with tr.span("pack_chunks"):
                tr.action(_noop, pack_chunks(train, chunk_tokens=2048,
                                             offsets=offsets))
            self.kept_ids = [r[0] for r in kept.select("doc_id").collect()]
        finally:
            if kept is not None:
                kept.unpersist()
            tr.release()
            # minhash_lsh_pairs leaves its signatures cached; a later pass
            # over the same input would reuse them instead of paying the
            # kernel again, as a fresh production run does
            spark.catalog.clearCache()
        self.digests.append(digest)

    def check(self, spark):
        errs = []
        if len(set(self.digests)) > 1:
            errs.append(f"kept-id digest differs across passes: "
                        f"{sorted(set(self.digests))}")
        kept = set(self.kept_ids)
        bad = [p for p in self.exact_pairs if len(kept.intersection(p)) != 1]
        if bad:
            errs.append(f"{len(bad)} of {len(self.exact_pairs)} "
                        f"exact-duplicate pairs do not end with exactly one "
                        f"doc, first {bad[0]}")
        return errs


WORKLOADS = {w.name: w for w in (PitBackfill, KernelWindows, CorpusCuration)}
