"""The benchmark workloads and the layer suites their traced runs add.

A workload object exposes

* ``warmup(ctx)``: the untimed pass over the input that ends set-up, so
  the timed passes find the caches a long-running job would have filled;
* ``timed_pass(ctx, i) -> dict``: measured pass ``i``, ``"s"`` its wall
  seconds and ``"docs"`` the documents it carried; ``max_passes(ctx)``
  bounds ``i`` (None: no bound);
* ``gate(ctx, passes)``: correctness checks, recorded through ``ctx.check``;
* ``probes(ctx)``: in a traced run, while the session is up: layer
  isolation jobs, single-thread layer timings, and the suites below
  (ingest on extract_tmpl, analytics on extract_longtail), each with its
  own warm-up, pass and correctness gate;
* ``layers(ctx, passes, stages, executions) -> dict``: the per-layer
  metrics, from the passes, the probes and Spark's event log (stages and
  executions, read after the session stopped).
"""

from __future__ import annotations

import glob
import json
import math
import os
import shutil
import statistics
import time

from pyspark.sql import Observation
from pyspark.sql import functions as F

from document_parser_private_spark import oracle
from document_parser_private_spark import semantics as S
from document_parser_private_spark.operators.sections import SECTIONS_FIELDS
from document_parser_private_spark.plans.checkpoint import (
    read_metrics, run_with_checkpoint)
from document_parser_private_spark.plans.pipeline import (
    extract_pipeline, repartition_salted)
from document_parser_private_spark.streaming.stream import run_stream_to_parquet

import inputs

ANALYTICS_QUERIES = ("textstats", "lsh_buckets", "bm25_terms", "lm_score",
                     "mixture_sample", "token_histogram")


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def _skew(xs) -> float:
    """max / median; 0 when there is nothing to compare."""
    m = _median(xs)
    return max(xs) / m if xs and m > 0 else 0.0


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _timed(ctx, desc: str, fn):
    """(seconds, result) of ``fn()``; its Spark jobs carry ``desc``, which
    is how the event log attributes stages to layers."""
    sc = ctx.spark.sparkContext
    sc.setJobDescription(desc)
    t0 = time.perf_counter()
    try:
        with ctx.tracer.span(desc):
            out = fn()
    finally:
        sc.setJobDescription(None)
    return time.perf_counter() - t0, out


# ---------------------------------------------------------------- oracle gate

def _span_tuples(spans) -> list[tuple]:
    return [(s["kind"], s["text"], s.get("media_ref"), s["offset"])
            for s in spans or []]


def _normalized(exp: dict) -> dict:
    return {
        "spans": _span_tuples(exp["spans"]),
        "sections": {n: exp["sections"].get(n) for n in SECTIONS_FIELDS},
        "blocks": (exp["blocks_kept"], exp["blocks_dropped"]),
        "contact": exp["contact"],
        "skills": exp["skills"],
    }


def _row_fields(r, exp: dict) -> dict:
    """A pipeline output Row in the oracle's normalized shape."""
    return {
        "spans": _span_tuples([s.asDict() for s in r["clean_spans"]]),
        "sections": r["sections"].asDict(),
        "blocks": (r["blocks_kept"], r["blocks_dropped"]),
        "contact": r["contact"].asDict(),
        "skills": list(r["skills"]),
    }


def _json_fields(r, exp: dict) -> dict:
    """A flattened (to_json) output row; to_json drops null fields."""
    r = r.asDict()
    secs = json.loads(r["sections_json"]) if r["sections_json"] else {}
    got = {
        "spans": _span_tuples(json.loads(r["clean_spans_json"] or "[]")),
        "sections": {n: secs.get(n) for n in SECTIONS_FIELDS},
        "blocks": (r["blocks_kept"], r["blocks_dropped"]),
    }
    if "contact_json" in r:
        contact = json.loads(r["contact_json"] or "{}")
        got["contact"] = {k: contact.get(k) for k in exp["contact"]}
        got["skills"] = json.loads(r["skills_json"] or "[]")
    return got


def check_against_oracle(ctx, what: str, got_by_id: dict, to_fields) -> None:
    """One check per sample doc: every compared field equals the oracle."""
    for doc_id, exp in ctx.expected.items():
        row = got_by_id.get(doc_id)
        if row is None:
            ctx.check(False, f"{what}: {doc_id} missing")
            continue
        want = _normalized(exp)
        got = to_fields(row, exp)
        bad = [k for k in got if got[k] != want[k]]
        ctx.check(not bad, f"{what}: {doc_id} differs on {bad}")


# ---------------------------------------------------------------- semantics

def semantics_layers(sample: list[dict]) -> dict:
    """Single-thread timings of the fused pass's layers on the gate sample,
    called through the same public functions with the same memo shapes
    (fuzzy-index memo; section-text memos for education and projects).
    cold = fresh memos, warm = the same calls again on filled memos."""
    lower, v2c, index = oracle.build_skill_index()
    n = len(sample)

    def per_doc_us(fn, items) -> float:
        t0 = time.perf_counter()
        for it in items:
            fn(it)
        return (time.perf_counter() - t0) / n * 1e6

    spans = [r["spans"] or [] for r in sample]
    per_doc_us(oracle.classify_and_emit, spans)  # first-call effects
    out = {"oracle.classify_and_emit.us_per_doc":
           per_doc_us(oracle.classify_and_emit, spans)}
    clean = [oracle.classify_and_emit(s)[0] for s in spans]
    out["sections.fsm.us_per_doc"] = per_doc_us(oracle.sections_of, clean)
    secs = [oracle.sections_of(c) for c in clean]

    def memoed(memo, key, fn):
        if key not in memo:
            memo[key] = fn(key)
        return memo[key]

    fuzzy: dict = {}
    edu: dict = {}
    proj: dict = {}
    calls = {
        "skills": lambda t: S.extract_skills(t, lower, v2c, index, memo=fuzzy),
        "education": lambda t: memoed(edu, t, S.extract_education_entries),
        "experience": lambda t: S.extract_experience_entries(
            t, skill_lower_index=lower, skill_var2canon=v2c,
            skill_index=index, memo=fuzzy),
        "projects": lambda t: memoed(proj, t, lambda x: S.extract_project_entries(
            x, skill_lower_index=lower, skill_var2canon=v2c,
            skill_index=index, memo=fuzzy)),
    }
    for phase in ("cold", "warm"):
        for name, fn in calls.items():
            texts = [s.get(name) or "" for s in secs]
            out[f"semantics.{name}.{phase}_us_per_doc"] = per_doc_us(fn, texts)
    return out


def fused_layers(stages: list[dict], desc: str, docs: int, passes: int) -> dict:
    """Per-pass metrics of the MapInArrow stages of jobs named ``desc``."""
    fused = [s for s in stages if s["desc"] == desc and s["arrow_rows"]]
    return {
        "resume.fused.task_s": sum(sum(s["run_ms"]) for s in fused)
        / 1000 / passes,
        "resume.fused.task_skew": _median([_skew(s["run_ms"]) for s in fused]),
        "resume.fused.py_sent_mb": sum(s["py_sent"] for s in fused)
        / 1e6 / passes,
        "resume.fused.py_returned_mb": sum(s["py_returned"] for s in fused)
        / 1e6 / passes,
        "resume.fused.rows_per_doc": sum(s["arrow_rows"] for s in fused)
        / (docs * passes),
    }


# ---------------------------------------------------------------- extraction

class Extraction:
    """extract_pipeline over a stored corpus into a noop sink.

    The input holds one corpus (extract_tmpl: the warm-up and every pass
    read it) or a pool (extract_longtail: corpus 0 for the warm-up,
    corpus i + 1 for timed pass i, so no pass meets phrases a reused
    worker's memos already hold)."""

    def __init__(self, repartition: bool, semantics_phase: str,
                 suite) -> None:
        self.repartition = repartition
        self.semantics_phase = semantics_phase
        self.suite = suite

    def _pipeline(self, df):
        return extract_pipeline(df, repartition=self.repartition)

    def _corpus(self, ctx, k: int):
        return self._pipeline(
            ctx.spark.read.parquet(inputs.corpus_dir(ctx.inp, k)))

    def _pass_corpus(self, ctx, i: int) -> int:
        return i + 1 if ctx.meta["corpora"] > 1 else 0

    def max_passes(self, ctx) -> int | None:
        return ctx.meta["corpora"] - 1 if ctx.meta["corpora"] > 1 else None

    def warmup(self, ctx) -> None:
        # the same plan as a timed pass: a different one (say, a filtered
        # collect) leaves the first timed pass measurably slower
        self._pass(ctx, "setup.extract", 0)

    def timed_pass(self, ctx, i: int) -> dict:
        return self._pass(ctx, "pass.extract", self._pass_corpus(ctx, i))

    def _pass(self, ctx, desc: str, k: int) -> dict:
        obs = Observation("extract")

        def job() -> None:
            _noop(self._corpus(ctx, k).observe(
                obs, F.count(F.lit(1)).alias("rows"),
                F.sum("blocks_kept").alias("kept"),
                F.sum("blocks_dropped").alias("dropped")))

        s, _ = _timed(ctx, desc, job)
        return {"s": s, "docs": ctx.meta["totals"][k]["rows"], "corpus": k,
                "observed": obs.get}

    def gate(self, ctx, passes: list[dict]) -> None:
        # every pass: rows out = docs in, block totals = the oracle's
        for p in passes:
            want = ctx.meta["totals"][p["corpus"]]
            got = {k: p["observed"][k] for k in want}
            ctx.check(got == want, f"extract corpus {p['corpus']}: "
                      f"observed {got}, oracle {want}")
        # the sample, taken from the timed plan over the whole gate corpus
        # (the filter sits above the opaque mapInArrow), after the timed
        # passes, so it comes out of the same partitioning and memo state
        rows = self._corpus(ctx, ctx.meta["gate"]).where(
            F.col("doc_id").isin(list(ctx.expected))).collect()
        check_against_oracle(ctx, "extract sample",
                             {r["doc_id"]: r for r in rows}, _row_fields)

    def probes(self, ctx) -> dict:
        corpus_dir = inputs.corpus_dir(ctx.inp, ctx.meta["gate"])
        out = {"pipeline.scan_s": _median([_timed(
            ctx, "pipeline.scan", lambda: _noop(
                ctx.spark.read.parquet(corpus_dir)))[0] for _ in range(3)])}
        if self.repartition:
            out["pipeline.repartition_salted.s"] = _median([_timed(
                ctx, "pipeline.repartition_salted", lambda: _noop(
                    repartition_salted(ctx.spark.read.parquet(corpus_dir))))[0]
                for _ in range(3)])
        out.update(semantics_layers(ctx.sample))
        self.suite.run(ctx)
        return out

    def layers(self, ctx, passes, stages, executions) -> dict:
        docs, n = ctx.meta["docs"], len(passes)
        out = dict(ctx.probes)
        if self.repartition:
            in_pass = [s for s in stages if s["desc"] == "pass.extract"]
            out["pipeline.repartition_salted.shuffle_mb"] = sum(
                s["shuffle_write_bytes"] for s in in_pass) / 1e6 / n
            # max / median of the shuffle bytes each post-exchange task
            # reads: how evenly the salting spread the bytes; the task-time
            # skew of that stage is resume.fused.task_skew
            out["pipeline.repartition_salted.task_skew"] = _median([
                _skew(s["shuffle_read_bytes"]) for s in in_pass
                if sum(s["shuffle_read_bytes"])])
        out.update(fused_layers(stages, "pass.extract", docs, n))
        out["pass.spill_mb"] = sum(s["spill_bytes"] for s in stages
                                   if s["desc"] == "pass.extract") / 1e6 / n
        sem = sum(out[f"semantics.{k}.{self.semantics_phase}_us_per_doc"]
                  for k in ("skills", "education", "experience", "projects"))
        out["resume.residual.us_per_doc"] = (
            out["resume.fused.task_s"] / docs * 1e6
            - out["oracle.classify_and_emit.us_per_doc"]
            - out["sections.fsm.us_per_doc"] - sem)
        out.update(self.suite.layers(ctx, stages, executions))
        return out


# ---------------------------------------------------------------- ingest

class IngestSuite:
    """The write side on the workload's corpus: a streaming drain, then a
    checkpointed run killed after its first commit and resumed, both into
    parquet under a fresh directory. One warm-up cycle on the gate sample,
    one measured cycle, then the gate."""

    def run(self, ctx) -> None:
        self._cycle(ctx, os.path.join(ctx.inp, "sample"), "ingest.setup")
        c = self._cycle(ctx, inputs.corpus_dir(ctx.inp, ctx.meta["gate"]),
                        "ingest")
        c["batches"] = len(glob.glob(os.path.join(c["out"], "stream_ckpt",
                                                  "commits", "[0-9]*")))
        lineage = ctx.spark.read.parquet(os.path.join(c["out"], "ckpt",
                                                      "lineage"))
        c["commit_s"] = [r["finished_at"] - r["started_at"] for r in
                         lineage.select("started_at", "finished_at")
                         .distinct().collect()]
        self.cycle = c
        self._gate(ctx, c)

    def _cycle(self, ctx, src: str, stage: str) -> dict:
        out = os.path.join(ctx.scratch, stage)
        shutil.rmtree(out, ignore_errors=True)
        stream_s, _ = _timed(ctx, f"{stage}.stream", lambda: run_stream_to_parquet(
            ctx.spark, src, os.path.join(out, "stream"),
            os.path.join(out, "stream_ckpt")))
        df = ctx.spark.read.parquet(src)
        ckpt_dir = os.path.join(out, "ckpt")

        def killed() -> bool:
            try:
                run_with_checkpoint(df, ckpt_dir, fail_after_commits=1)
            except RuntimeError as exc:  # the hook's simulated kill
                if "simulated failure" not in str(exc):
                    raise
                return True
            return False

        kill_s, was_killed = _timed(ctx, f"{stage}.ckpt", killed)
        resume_s, resumed = _timed(ctx, f"{stage}.ckpt", lambda: run_with_checkpoint(
            df, ckpt_dir))
        return {"out": out, "stream_s": stream_s, "kill_s": kill_s,
                "resume_s": resume_s, "killed": was_killed, "resumed": resumed}

    def _gate(self, ctx, c: dict) -> None:
        done, docs = c["resumed"], ctx.meta["docs"]
        ctx.check(c["killed"], "ckpt: the first run was not killed")
        ctx.check(
            sorted(done["processed_parts"] + done["skipped_parts"])
            == ctx.meta["parts"]
            and not set(done["processed_parts"]) & set(done["skipped_parts"])
            and len(done["skipped_parts"]) == 4,  # one commit of 4 parts
            f"ckpt: resume recomputed {done['processed_parts']}, "
            f"skipped {done['skipped_parts']}")
        spark, ids = ctx.spark, list(ctx.expected)
        total = read_metrics(spark, os.path.join(c["out"], "ckpt")).agg(
            F.sum("doc_count")).first()[0]
        ctx.check(total == docs,
                  f"ckpt: metrics count {total} docs, corpus has {docs}")
        stream = spark.read.parquet(os.path.join(c["out"], "stream"))
        n_stream = stream.count()
        ctx.check(n_stream == docs,
                  f"stream: {n_stream} rows out, {docs} docs in")
        for what, df in (("stream sample", stream), ("ckpt sample", spark.read
                         .parquet(os.path.join(c["out"], "ckpt", "extracted")))):
            rows = df.where(F.col("doc_id").isin(ids)).collect()
            check_against_oracle(ctx, what, {r["doc_id"]: r for r in rows},
                                 _json_fields)

    def layers(self, ctx, stages, executions) -> dict:
        c, docs = self.cycle, ctx.meta["docs"]
        return {
            "checkpoint.commit_s": _median(c["commit_s"]),
            "checkpoint.fused_rows_per_doc": sum(
                s["arrow_rows"] for s in stages if s["desc"] == "ingest.ckpt")
            / docs,
            "checkpoint.resume_s": c["resume_s"],
            "checkpoint.docs_per_s": docs / (c["kill_s"] + c["resume_s"]),
            "stream.batches": c["batches"],
            "stream.batch_s": c["stream_s"] / max(c["batches"], 1),
            "stream.docs_per_s": docs / c["stream_s"],
        }


# ---------------------------------------------------------------- analytics

def _canon(rows, cols) -> list[tuple]:
    """Order-insensitive value form, floats to 9 significant digits (the
    comparison tools/check_oracle.py makes)."""
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = []
    for row in rows:
        vals = []
        for i in order:
            v = row[i]
            if isinstance(v, float):
                v = "NaN" if math.isnan(v) else f"{v:.9g}"
            vals.append(repr(v))
        out.append(tuple(vals))
    return sorted(out)


class AnalyticsSuite:
    """A fixed set of ``__spark_entry__`` queries over seeded tables in the
    layout of the sf0.1 test tables (5000 documents, 2000 embeddings,
    one file and one row group each): a warm-up over small tables, two
    measured passes, then value parity with the DuckDB twins."""

    PASSES = 2

    def __init__(self) -> None:
        import __spark_entry__ as entry
        self.entry = entry
        self.queries = entry.queries()

    def _run_all(self, ctx, tables: str, stage: str) -> dict:
        per, rows = {}, {}
        for q in ANALYTICS_QUERIES:
            obs = Observation(q)
            per[q], _ = _timed(ctx, f"{stage}{q}", lambda: _noop(
                self.queries[q](ctx.spark, tables).observe(
                    obs, F.count(F.lit(1)).alias("rows"))))
            rows[q] = obs.get["rows"]
        return {"s": sum(per.values()), "per_query": per, "rows": rows}

    def run(self, ctx) -> None:
        inp, meta = inputs.prepare("analytics_tables", ctx.seed, ctx.work)
        self._run_all(ctx, os.path.join(inp, "warmup"), "entry.setup.")
        tables = os.path.join(inp, "main")
        self.passes = [self._run_all(ctx, tables, "entry.")
                       for _ in range(self.PASSES)]
        self._gate(ctx, tables, meta["docs"])

    def _gate(self, ctx, tables: str, docs: int) -> None:
        import duckdb

        for q in ANALYTICS_QUERIES:
            counts = {p["rows"][q] for p in self.passes}
            ctx.check(len(counts) == 1 and min(counts) > 0,
                      f"{q}: row counts across passes {sorted(counts)}")
        ctx.check(self.passes[0]["rows"]["textstats"] == docs,
                  "textstats: one row per document")
        oracles = self.entry.oracle_sql()
        con = duckdb.connect()
        try:
            for t in ("documents", "embeddings"):
                path = os.path.join(tables, f"{t}.parquet").replace("'", "''")
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
            for q in ANALYTICS_QUERIES:
                if q not in oracles:
                    continue
                sdf = self.queries[q](ctx.spark, tables)
                want = con.sql(oracles[q])
                want_cols = [d[0] for d in want.description]
                ok = sorted(sdf.columns) == sorted(want_cols) and _canon(
                    [tuple(r) for r in sdf.collect()], sdf.columns) == _canon(
                    want.fetchall(), want_cols)
                ctx.check(ok, f"{q}: value mismatch against the DuckDB twin")
        finally:
            con.close()

    def layers(self, ctx, stages, executions) -> dict:
        n = len(self.passes)
        out = {"entry.set_s": _median([p["s"] for p in self.passes])}
        for q in ANALYTICS_QUERIES:
            desc = f"entry.{q}"
            out[f"entry.{q}_s"] = _median(
                [p["per_query"][q] for p in self.passes])
            out[f"entry.{q}.scan_tasks"] = sum(
                s["tasks"] for s in stages if s["desc"] == desc and s["scan"]) / n
            out[f"entry.{q}.exchanges"] = sum(
                e["exchanges"] for e in executions if e["desc"] == desc) / n
        return out


def make(name: str):
    if name == "extract_tmpl":
        return Extraction(repartition=False, semantics_phase="warm",
                          suite=IngestSuite())
    return Extraction(repartition=True, semantics_phase="cold",
                      suite=AnalyticsSuite())


def sample_expected(inp: str) -> tuple[list[dict], dict]:
    """(sample corpus rows, oracle rows by doc id) for the gate."""
    rows = inputs.sample_rows(inp)
    return rows, {e["doc_id"]: e for e in oracle.expected_rows(rows)}
