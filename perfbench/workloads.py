"""The two workloads: set-up, timed region, output check and traced extras.

Load shape for both: one driver process, ``local[<cores>]``, a closed
loop with one Spark action in flight at a time. The program is driven only
through its public calls: ``sources.interleave.interleaved_from_documents``,
``operators.extract.extract_spans``, ``sources.checkpoint.ExtractCheckpointJob``,
``kernels.extract.process_document_flat`` and ``__spark_entry__.queries()`` /
``oracle_sql()``.

Each workload returns a :class:`Result`. ``Result.line`` prints the
end-to-end metrics (untraced run) or the per-layer metrics (traced run) named
in BENCHMARK.json; a per-layer metric whose layer the workload does not
exercise reads 0.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time
from dataclasses import dataclass, field

import inputs
from families import FAMILIES, SWEEP, family
from tools.gate_check import rows_to_multiset, type_drift
from tracing import EventLog, ProcessSampler, Tracer

BENCHMARK_JSON = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                              "BENCHMARK.json")

SMALL_DOCS = 40_000  # extract_small_docs corpus size
LONGTAIL_DOCS = 128  # checkpoint-layer corpus size (~7.5 MB of HTML)
LONGTAIL_GROUPS = 8
SETUP_REPS = 3  # input builds per untraced run; setup_s uses their median
LAYER_REPS = 3  # repetitions per layer in the traced layer split
MIN_PASSES = 3  # timed passes per untraced run, however long --seconds is
# passes of warm-up before the timed region: after a single (cold) pass the
# next passes still got faster (gate_sweep: the 2nd and 3rd ran 10-25% slower
# than the 4th), so the timed median depended on how many passes fitted in
# --seconds
WARMUP_PASSES = 3
# in a traced gate_sweep run no extra query starts later than this many
# seconds after the session is up, so that the run ends within 180 s even
# when the host is too slow to run all 110 queries
EXTRAS_UNTIL_S = 115.0


def metric_units() -> tuple[dict[str, str], dict[str, str]]:
    with open(BENCHMARK_JSON) as f:
        spec = json.load(f)
    return ({m["name"]: m["unit"] for m in spec["end_to_end"]},
            {m["name"]: m["unit"] for m in spec["per_layer"]})


def percentile(values: list[float], q: float) -> float:
    """Linear-interpolated q-quantile (0 <= q <= 1)."""
    v = sorted(values)
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def noop(df) -> None:
    """Run every operator of df's plan (a bare count() lets Catalyst prune)."""
    df.write.format("noop").mode("overwrite").save()


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    trace: bool
    work: str
    cpus: int
    session_s: float
    tracer: Tracer = field(default_factory=Tracer)
    created: float = field(default_factory=time.perf_counter)

    def group(self, name: str) -> None:
        """Tag the next Spark jobs; the traced run attributes them by this tag."""
        self.spark.sparkContext.setJobGroup(name, name)

    def elapsed(self) -> float:
        return time.perf_counter() - self.created

    def timed(self, one_pass) -> list[float]:
        """Call one_pass(i) until --seconds have passed, at least MIN_PASSES
        times (once in a traced run, which reports no end-to-end metric);
        return the pass walls."""
        walls: list[float] = []
        min_passes = 1 if self.trace else MIN_PASSES
        t_start = time.perf_counter()
        while len(walls) < min_passes or time.perf_counter() - t_start < self.seconds:
            i = len(walls)
            self.group(f"timed:{i}")
            with self.tracer.span("pass", index=i):
                t0 = time.perf_counter()
                one_pass(i)
                walls.append(time.perf_counter() - t0)
        return walls


class Result:
    def __init__(self, workload: str):
        self.workload = workload
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.attempted = 0
        self.failed = 0
        self.records: dict = {}
        self._trace_steps = []

    def on_trace(self, fn) -> None:
        """fn(EventLog) runs once the traced session has stopped."""
        self._trace_steps.append(fn)

    def finish_trace(self, run: Run) -> None:
        log = EventLog(os.path.join(run.work, "eventlog"))
        for fn in self._trace_steps:
            fn(log)

    def line(self, trace: bool) -> dict:
        e2e_units, layer_units = metric_units()
        units, values = (layer_units, self.layer) if trace else (e2e_units, self.e2e)
        missing = sorted(set(units) - set(values))
        if missing:
            raise RuntimeError(f"{self.workload}: metrics not measured: {missing}")
        return {
            "correct": self.failed == 0,
            "attempted": int(self.attempted),
            "failed": int(self.failed),
            "metrics": {k: {"value": float(values[k]), "unit": u} for k, u in units.items()},
        }

    def artifact(self, run: Run) -> dict:
        return {
            "workload": self.workload,
            "seed": run.seed,
            "seconds": run.seconds,
            "trace": run.trace,
            "cpus": run.cpus,
            "attempted": self.attempted,
            "failed": self.failed,
            "end_to_end": self.e2e,
            "per_layer": self.layer,
            "records": self.records,
            "spans": run.tracer.spans,
        }


# ---------------------------------------------------------------------------
# shared pieces
# ---------------------------------------------------------------------------


def _setup_s(run: Run, build, warmup) -> float:
    """Session start + median of SETUP_REPS input builds + one warm-up (one
    build in a traced run, which does not report setup_s)."""
    builds = []
    for i in range(1 if run.trace else SETUP_REPS):
        with run.tracer.span("setup.build", rep=i):
            t0 = time.perf_counter()
            build(i)
            builds.append(time.perf_counter() - t0)
    run.group("warmup")
    with run.tracer.span("setup.warmup"):
        t0 = time.perf_counter()
        warmup()
        warm = time.perf_counter() - t0
    return run.session_s + statistics.median(builds) + warm


def _e2e(res: Result, setup_s: float, ops_per_pass: int, walls: list[float],
         op_latencies: list[float], procs: ProcessSampler) -> None:
    res.e2e.update(
        setup_s=setup_s,
        throughput_per_s=ops_per_pass / statistics.median(walls),
        cpu_ms_per_op=procs.cpu_s * 1000 / (ops_per_pass * len(walls)),
        py_peak_rss_mb=procs.py_peak / 1e6,
    )
    res.records.update(op_latencies=op_latencies, timed_cpu_s=procs.cpu_s)


def _zero_layers(res: Result) -> None:
    """Start every per-layer metric at 0 (= layer not exercised)."""
    res.layer.update({name: 0.0 for name in metric_units()[1]})


def _spark_layers(res: Result, log: EventLog, pass_walls, procs) -> None:
    """Spark runtime per timed pass, plus the driver-side gap between jobs."""
    n_passes = len(pass_walls)
    timed = log.job_ids("timed")
    s = log.summary(timed)
    gaps = [max(0.0, wall - log.busy_s(log.job_ids(f"timed:{i}")))
            for i, wall in enumerate(pass_walls)]
    res.layer.update({
        "spark.jobs": s["jobs"] / n_passes,
        "spark.stages": s["stages"] / n_passes,
        "spark.tasks": s["tasks"] / n_passes,
        "spark.failed_tasks": s["failed_tasks"],
        "spark.cpu_s": s["cpu_s"] / n_passes,
        "spark.gc_s": s["gc_s"] / n_passes,
        "jvm_peak_rss_mb": procs.jvm_peak / 1e6,
        "driver.gap_s": statistics.median(gaps),
        "exchange.shuffle_mb": s["shuffle_write_bytes"] / 1e6 / n_passes,
        "exchange.task_skew": log.task_skew(timed),
        "crossing.py_sent_mb": s["py_sent_bytes"] / 1e6 / n_passes,
        "crossing.py_returned_mb": s["py_returned_bytes"] / 1e6 / n_passes,
        "crossing.py_start_s": s["py_start_s"] / n_passes,
        "extract.py_run_s": s["py_run_s"] / n_passes,
        "trace.pass_s": statistics.median(pass_walls),
        "op.p50_s": percentile(res.records["op_latencies"], 0.5),
        "op.p75_s": percentile(res.records["op_latencies"], 0.75),
    })
    res.records["timed_summary"] = s


def _kernel_layers(run: Run, res: Result) -> None:
    """Driver-local process_document_flat on fixed samples (seed 0), so the
    kernel's per-doc and per-KB cost is comparable across runs and seeds."""
    from html_parser_spark.kernels.extract import process_document_flat
    from html_parser_spark.sources.interleave import interleaved_from_documents

    run.group("layer:kernel")
    docs = run.spark.createDataFrame(inputs.documents(0, 2000).to_pandas())
    small = interleaved_from_documents(docs).toArrow().column("spans").to_pylist()
    long_tab, exp = inputs.longtail_corpus(0, 60)
    long_docs = [s for d, s in zip(long_tab.column("doc_id").to_pylist(),
                                   long_tab.column("spans").to_pylist())
                 if exp[d].status == "ok"]
    long_kb = sum(len(sp[0]["text"]) for sp in long_docs) / 1000.0

    def per_sample(sample) -> float:
        walls = []
        for _ in range(LAYER_REPS):
            ok, ot, om = [], [], []
            t0 = time.perf_counter()
            for spans in sample:
                process_document_flat([s["kind"] for s in spans], [s["text"] for s in spans],
                                      [s["media_ref"] for s in spans], ok, ot, om)
            walls.append(time.perf_counter() - t0)
        return statistics.median(walls)

    with run.tracer.span("kernel.small"):
        res.layer["kernel.us_per_doc"] = per_sample(small) / len(small) * 1e6
    with run.tracer.span("kernel.long"):
        res.layer["kernel.us_per_kb"] = per_sample(long_docs) / long_kb * 1e6


# ---------------------------------------------------------------------------
# extract_small_docs
# ---------------------------------------------------------------------------


def _identity_batches(batches):
    yield from batches


def _materialize_batches(batches):
    """What the kernel does before parsing: doc ids, list offsets and the span
    child arrays to Python lists. Yields the batch unchanged."""
    for b in batches:
        spans = b.column(b.schema.get_field_index("spans"))
        b.column(b.schema.get_field_index("doc_id")).to_pylist()
        spans.offsets.to_pylist()
        for name in ("kind", "text", "media_ref"):
            spans.values.field(name).to_pylist()
        yield b


def extract_small_docs(run: Run) -> Result:
    from pyspark.sql import functions as F

    from html_parser_spark.operators.extract import extract_spans
    from html_parser_spark.sources.interleave import interleaved_from_documents

    res = Result("extract_small_docs")
    spark = run.spark
    path = os.path.join(run.work, "documents.parquet")
    state = {}

    def build(i):
        if "docs" in state:
            state["docs"].unpersist(blocking=True)
        table = inputs.resampled_documents(run.seed, SMALL_DOCS)
        inputs.write_parquet(table, path)
        docs = spark.read.parquet(path).repartition(4 * run.cpus).cache()
        docs.count()
        state.update(docs=docs, text_mb=sum(len(t) for t in table.column("text").to_pylist()) / 1e6)

    def warmup():
        for _ in range(WARMUP_PASSES):
            noop(extract_spans(interleaved_from_documents(state["docs"])))

    setup_s = _setup_s(run, build, warmup)
    docs = state["docs"]
    interleaved = interleaved_from_documents(docs)
    with ProcessSampler() as procs:
        walls = run.timed(lambda i: noop(extract_spans(interleaved)))
    _e2e(res, setup_s, SMALL_DOCS, walls, walls, procs)

    # check: every doc against the closed-form 5-span wrap expectation (the
    # one oracle_sql uses for extract_flagship), computed from the input text
    run.group("check")
    with run.tracer.span("check"):
        text, did = F.col("text"), F.col("doc_id").cast("string")
        title = F.array_join(F.slice(F.split(text, " "), 1, 3), " ")

        def span(kind, txt, mref, order):
            return F.struct(F.lit(kind).alias("kind"), txt.alias("text"),
                            mref.alias("media_ref"), F.lit(order).alias("order"))

        null = F.lit(None).cast("string")
        expected = F.array(
            span("text", title, null, 0),
            span("text", text, null, 1),
            span("media", null, F.concat(F.lit("media://"), F.col("source"), F.lit("/"),
                                         did, F.lit(".jpg")), 2),
            span("text", text, null, 3),
            span("media", null, F.concat(F.lit("thumb-"), did, F.lit(".png")), 4),
        )
        exp = docs.select(did.alias("doc_id"), expected.alias("exp_spans"),
                          (F.length(title) + 2 * F.length(text)).cast("long").alias("exp_chars"))
        out = extract_spans(interleaved).select(
            "doc_id", "spans", "status", "error", "n_spans", "n_text_chars")
        good = (
            (F.col("status") == "ok") & F.col("error").isNull() & (F.col("n_spans") == 5)
            & (F.col("spans") == F.col("exp_spans"))
            & (F.col("n_text_chars") == F.col("exp_chars"))
        )
        row = (
            exp.join(out, "doc_id", "full_outer")
            .agg(
                F.count("*").alias("n"),
                F.sum(F.when(F.coalesce(good, F.lit(False)), 0).otherwise(1)).alias("bad"),
                F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("ok"),
                F.sum(F.when(F.col("status") == "error", 1).otherwise(0)).alias("error"),
                F.sum(F.when(F.col("status") == "divergent", 1).otherwise(0)).alias("divergent"),
                F.sum("n_spans").alias("spans"),
            )
            .collect()[0]
        )
    res.attempted = SMALL_DOCS
    res.failed = int(row["bad"]) + max(0, int(row["n"]) - SMALL_DOCS)
    res.records.update(n_docs=SMALL_DOCS, text_mb=state["text_mb"], pass_walls=walls)

    if run.trace:
        _zero_layers(res)
        res.layer.update({
            "out.docs_ok": row["ok"], "out.docs_error": row["error"],
            "out.docs_divergent": row["divergent"], "out.spans": row["spans"] or 0,
            "input.mb": state["text_mb"], "input.items": SMALL_DOCS,
        })
        # cumulative layer split on the same cached input
        layers = [
            ("scan.s", docs),
            ("interleave.s", interleaved),
            ("crossing.s", interleaved.mapInArrow(_identity_batches, interleaved.schema)),
            ("materialize.s", interleaved.mapInArrow(_materialize_batches, interleaved.schema)),
            ("extract.s", extract_spans(interleaved)),
        ]
        for name, df in layers:
            walls_l = []
            for r in range(LAYER_REPS):
                run.group(f"layer:{name}")
                with run.tracer.span(name, rep=r):
                    t0 = time.perf_counter()
                    noop(df)
                    walls_l.append(time.perf_counter() - t0)
            res.layer[name] = statistics.median(walls_l)
        _kernel_layers(run, res)
        res.on_trace(lambda log: _spark_layers(res, log, walls, procs))
        _checkpoint_layers(run, res)
    return res


# ---------------------------------------------------------------------------
# checkpointed job path (traced extract_small_docs run)
# ---------------------------------------------------------------------------


def _checkpoint_layers(run: Run, res: Result) -> None:
    """The production job path: one ExtractCheckpointJob over a seeded
    long-tail corpus (after a one-group warm-up job), into a fresh directory.
    Its salting Exchange, per-group rescans and commits are layers of their
    own; its output is checked against what the generator built, and every
    group must be committed."""
    from html_parser_spark.sources.checkpoint import ExtractCheckpointJob

    spark = run.spark
    path = os.path.join(run.work, "longtail.parquet")
    table, expected = inputs.longtail_corpus(run.seed, LONGTAIL_DOCS)
    inputs.write_parquet(table, path, row_group_size=16)
    html_mb = sum(len(s[0]["text"]) for s in table.column("spans").to_pylist()) / 1e6

    def job_run(name, max_groups=None):
        run.group(f"layer:{name}")
        job = ExtractCheckpointJob(spark, os.path.join(run.work, "jobs", name),
                                   n_groups=LONGTAIL_GROUPS, salt_by="bytes")
        with run.tracer.span(name):
            t0 = time.perf_counter()
            job.run(lambda: spark.read.parquet(path), max_groups=max_groups)
            return job, time.perf_counter() - t0

    job_run("checkpoint-warmup", max_groups=1)
    job, wall = job_run("checkpoint")

    run.group("check")
    with run.tracer.span("check", layer="checkpoint"):
        committed = job.committed_groups()
        rows = job.output().select(
            "doc_id", "status", "error", "n_spans", "n_text_chars").collect()
    got = {r["doc_id"]: inputs.Expected(r["status"], r["error"], r["n_spans"], r["n_text_chars"])
           for r in rows}
    bad_docs = [d for d, e in expected.items() if got.get(d) != e]
    extra = len(rows) - len(got) + len(set(got) - set(expected))
    res.attempted += LONGTAIL_DOCS + LONGTAIL_GROUPS
    res.failed += len(bad_docs) + extra + len(set(range(LONGTAIL_GROUPS)) - committed)
    statuses = [e.status for e in expected.values()]
    for key, n in (("out.docs_ok", statuses.count("ok")),
                   ("out.docs_error", statuses.count("error")),
                   ("out.docs_divergent", statuses.count("divergent")),
                   ("out.spans", sum(e.n_spans for e in expected.values()))):
        res.layer[key] += n
    res.layer.update({"checkpoint.s": wall, "checkpoint.mb_per_s": html_mb / wall})
    res.records["checkpoint"] = {"n_docs": LONGTAIL_DOCS, "n_groups": LONGTAIL_GROUPS,
                                 "html_mb": html_mb, "wall_s": wall,
                                 "mismatched_docs": bad_docs[:20]}

    def from_log(log: EventLog):
        ids = log.job_ids("layer:checkpoint")
        s = log.summary(ids)
        res.layer.update({
            "checkpoint.jobs": s["jobs"],
            "checkpoint.driver_gap_s": max(0.0, wall - log.busy_s(ids)),
            "checkpoint.scan_ratio": s["in_records"] / LONGTAIL_DOCS,
            "checkpoint.write_mb_per_in_mb": s["out_bytes"] / 1e6 / html_mb,
            "exchange.shuffle_mb": s["shuffle_write_bytes"] / 1e6,
            "exchange.task_skew": log.task_skew(ids),
        })

    res.on_trace(from_log)


# ---------------------------------------------------------------------------
# gate_sweep
# ---------------------------------------------------------------------------


def oracle_mismatch(con, sql: str, df, rows) -> str | None:
    """None when the collected Spark rows of df equal the DuckDB oracle's the
    way tools/gate_check.py compares them: column names and types, row count,
    multiset of values (doubles bit-exact by repr)."""
    res = con.execute(sql)
    ocols = [d[0] for d in res.description]
    orows = res.fetchall()
    if sorted(df.columns) != sorted(ocols):
        return f"columns {sorted(df.columns)} != {sorted(ocols)}"
    drift = type_drift(df, con, sql)
    if drift:
        return "type drift: " + "; ".join(drift)
    if len(rows) != len(orows):
        return f"rowcount {len(rows)} != {len(orows)}"
    if rows_to_multiset(df.columns, rows) != rows_to_multiset(ocols, orows):
        return "values differ"
    return None


def gate_sweep(run: Run) -> Result:
    import duckdb

    import __spark_entry__ as entry

    res = Result("gate_sweep")
    spark = run.spark
    sf_dir = os.path.join(run.work, "gate")
    queries = entry.queries()
    oracles = entry.oracle_sql()

    def build(i):
        for name, table in inputs.gate_tables(run.seed).items():
            inputs.write_parquet(table, os.path.join(sf_dir, f"{name}.parquet"))

    def run_query(q, tag):
        """Run q once (collect); return (wall, df, rows), or (wall, None,
        exception) when it raises."""
        run.group(tag)
        with run.tracer.span("query", query=q, tag=tag):
            t0 = time.perf_counter()
            try:
                df = queries[q](spark, sf_dir)
                rows = [tuple(r) for r in df.collect()]
            except Exception as e:  # a failing query is a failed operation
                return time.perf_counter() - t0, None, e
            return time.perf_counter() - t0, df, rows

    def warmup():
        for _ in range(WARMUP_PASSES):
            for q in SWEEP:
                run_query(q, f"warmup:{q}")

    setup_s = _setup_s(run, build, warmup)
    results = {}
    op_walls: list[float] = []

    def one_pass(i):
        for q in SWEEP:
            results[q] = run_query(q, f"timed:{i}:{q}")
            op_walls.append(results[q][0])

    with ProcessSampler() as procs:
        walls = run.timed(one_pass)
    q_walls = {q: results[q][0] for q in SWEEP}
    _e2e(res, setup_s, len(SWEEP), walls, op_walls, procs)

    run.group("check")
    con = duckdb.connect()
    for f in os.listdir(sf_dir):
        con.execute(f"CREATE VIEW {f.removesuffix('.parquet')} AS SELECT * FROM '{sf_dir}/{f}'")

    def check(q, outcome) -> str | None:
        _, df, rows = outcome
        if df is None:
            return f"spark raised {type(rows).__name__}: {str(rows)[:300]}"
        try:
            return oracle_mismatch(con, oracles[q], df, rows)
        except Exception as e:  # noqa: BLE001 - an oracle failure fails the query
            return f"duckdb raised {type(e).__name__}: {str(e)[:300]}"

    per_query = {}
    with run.tracer.span("check"):
        for q in SWEEP:
            per_query[q] = {"family": family(q), "run": "warm", "wall_s": q_walls[q],
                            "error": check(q, results[q])}
    skipped = []
    if run.trace:
        # the traced run's artifact has a record for every query: the others
        # run once each, cold, and are checked at once, as long as time
        # allows. Where time runs out first, the order (shuffled by the seed)
        # lets traced runs of a few seeds cover all of them between them.
        others = [q for q in queries if q not in SWEEP]
        for q in random.Random(run.seed).sample(others, len(others)):
            if run.elapsed() > EXTRAS_UNTIL_S:
                skipped.append(q)
                continue
            outcome = run_query(q, f"extra:{q}")
            run.group("check")
            with run.tracer.span("check", query=q):
                per_query[q] = {"family": family(q), "run": "cold", "wall_s": outcome[0],
                                "error": check(q, outcome)}
    con.close()
    res.attempted = len(per_query)
    res.failed = sum(r["error"] is not None for r in per_query.values())
    res.records.update(queries=per_query, skipped_queries=skipped, sweep_walls=walls)

    if run.trace:
        _zero_layers(res)
        res.layer.update({"input.items": len(SWEEP), "input.mb": sum(
            os.path.getsize(os.path.join(sf_dir, f)) for f in os.listdir(sf_dir)) / 1e6})

        def from_log(log: EventLog):
            last = len(walls) - 1
            for q, rec in per_query.items():
                tag = f"timed:{last}:{q}" if rec["run"] == "warm" else f"extra:{q}"
                s = log.summary(log.job_ids(tag))
                rec.update({k: s[k] for k in ("jobs", "stages", "exchanges", "py_run_s",
                                              "cpu_s")})
            for fam in FAMILIES:
                recs = [per_query[q] for q in SWEEP if family(q) == fam]
                res.layer[f"family.{fam}.wall_s"] = sum(r["wall_s"] for r in recs)
                for k in ("jobs", "stages", "exchanges", "py_run_s", "cpu_s"):
                    res.layer[f"family.{fam}.{k}"] = sum(r[k] for r in recs)
            _spark_layers(res, log, walls, procs)

        res.on_trace(from_log)
    return res


WORKLOADS = {
    "extract_small_docs": extract_small_docs,
    "gate_sweep": gate_sweep,
}
