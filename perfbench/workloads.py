"""The two workloads and their output checks.

``ingest_batch`` and ``analytics_panel`` each return a ``Phase``:
per-operation latencies and CPU seconds, failed operations, the
workload's own named metrics and, when traced, per-layer numbers. Output
checks run after the timed operations and count the operations whose
results were wrong as failed.

- ``ingest_batch``: closed loop, one client. Scan drops of SARIF files go
  through read_sarif → convert → enrich → ocsf_to_json → land →
  high_water_mark → stage → write_staging → run_quality_checks, starting
  from empty tables. Operation: one drop.
- ``analytics_panel``: closed loop, one client, reads only. The CORE15
  queries of ``__spark_entry__`` over generated TPC-H-ish tables plus four
  findings queries over a table staged in set-up from a generated landing
  table and files landed by the file monitor. Operation: one query,
  written to a ``noop`` sink.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from collections import Counter
from dataclasses import dataclass, field

from pyspark.sql import Window
from pyspark.sql import functions as F

import corpus
from tracing import Tracer, tree_cpu_s

from boann_ocsf_security_data_platform_spark.plans import (
    FindingUIDGenerator,
    ScanMetadataEnrichment,
    apply_enrichments,
    convert_sarif_to_ocsf,
    land,
    ocsf_to_json,
    read_landing,
    stage,
)
from boann_ocsf_security_data_platform_spark.plans.quality import run_quality_checks
from boann_ocsf_security_data_platform_spark.plans.staging import (
    high_water_mark,
    write_staging,
)
from boann_ocsf_security_data_platform_spark.sources import read_sarif

# Each run does a fixed amount of work, derived from --seconds at a nominal
# rate: a time-bounded loop would let a slow moment cut the run short, and
# the fewer, less warmed-up operations would read slower still.
#
# ingest_batch: one drop is FILES_PER_DROP SARIF files holding
# FINDINGS_PER_DROP results (about 8 MB); a run makes
# seconds / NOMINAL_DROP_S drops, at least MIN_DROPS (per-drop-index stage
# times are reported for those). The warm-up drops go to separate tables.
FILES_PER_DROP = 8
FINDINGS_PER_DROP = 25_000
NOMINAL_DROP_S = 4.0
MIN_DROPS = 3
WARMUP_DROPS = 2
WARMUP_FINDINGS = 10_000

# file-monitor sizing (analytics_panel set-up)
MONITOR_FILES = 12
MONITOR_FINDINGS_PER_FILE = 100
MONITOR_FILES_PER_TRIGGER = 4
DRAIN_TIMEOUT_S = 60.0

# analytics_panel: a run makes seconds / NOMINAL_PASS_S passes over the
# panel, at least one. The TPC-H-ish tables are the same on every run
# (generator seed 42 at scale factor 0.01, the seed and scale of the
# repository's correctness test tables); --seed varies the staged findings
# table.
NOMINAL_PASS_S = 9.0
ANALYTICS_SF = 0.01
TABLES_SEED = 42
LANDED_FINDINGS = 3000
LANDED_LOADS = 6

FIXTURE_UID = (
    "boann:sast:demoscanner:fingerprint:"
    "57aac4c8d078bf419c827a073958a537cbb0af887583b72340d556c74b617ecb"
)

# CORE15 query -> operators module it exercises
QUERY_LAYER = {
    "q1_pricing_summary": "relational",
    "q3_shipping_priority": "relational",
    "q5_local_supplier_volume": "relational",
    "join_theta_inequality": "relational",
    "agg_rollup": "relational",
    "window_running_sum": "relational",
    "topk_per_group": "relational",
    "events_sessionize": "relational",
    "events_tumbling_window": "relational",
    "dedup_exact": "dedup",
    "dedup_minhash_lsh": "dedup",
    "dedup_ngram_jaccard": "dedup",
    "knn_bruteforce_cosine": "similarity",
    "text_quality_metrics": "text",
    "multimodal_media_meta": "multimodal",
}


@dataclass
class Run:
    spark: object
    root: str  # checkout root
    work: str  # this run's scratch directory inside the checkout
    seed: int
    seconds: float


@dataclass
class Phase:
    latencies: list[float] = field(default_factory=list)
    op_s: float = 0.0  # typical operation latency
    cpu_s: float = 0.0  # typical operation CPU seconds
    attempted: int = 0
    failed: int = 0
    checks: dict = field(default_factory=dict)
    rate_per_s: float = 0.0
    storage_bytes_per_finding: float = 0.0
    named: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)  # every timing, for the report


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (statistics.quantiles, inclusive)."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def dir_bytes_files(path: str) -> tuple[int, int]:
    total = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            if n.endswith(".parquet"):
                total += os.path.getsize(os.path.join(d, n))
                files += 1
    return total, files


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def _materialize(tr: Tracer, df, cached: list):
    """Traced runs cache and materialize each lazy layer's output inside
    its span, so the span holds that layer's own cost."""
    if not tr.enabled:
        return df
    df = df.cache()
    cached.append(df)
    _noop(df)
    return df


# ---------------------------------------------------------------------------
# ingest_batch
# ---------------------------------------------------------------------------

def run_drop(spark, tr: Tracer, files: list[str], scan_run_id: str,
             landing: str, staging: str, layer: dict) -> None:
    """One scan drop through the batch pipeline. ``layer`` collects counts
    (quality violations always; the rest in traced runs)."""
    cached: list = []
    if tr.enabled:
        layer.setdefault("bytes_in", []).append(sum(os.path.getsize(f) for f in files))
    with tr.span("ingest.drop"):
        with tr.span("sources.sarif.read"):
            sarif = _materialize(tr, read_sarif(spark, files), cached)
        with tr.span("plans.convert") as s:
            ocsf = _materialize(tr, convert_sarif_to_ocsf(sarif), cached)
        if s is not None:
            layer.setdefault("convert_tasks", []).append(s["tasks"])
            layer.setdefault("findings_out", []).append(ocsf.count())
        with tr.span("plans.enrich"):
            ocsf = _materialize(tr, apply_enrichments(
                ocsf, [FindingUIDGenerator(), ScanMetadataEnrichment(scan_run_id)]
            ), cached)
        before = dir_bytes_files(landing)[1] if tr.enabled else 0
        with tr.span("plans.landing.land"):
            land(ocsf_to_json(ocsf), landing)
        if tr.enabled:
            layer.setdefault("files_written", []).append(
                dir_bytes_files(landing)[1] - before)
        with tr.span("plans.staging.high_water_mark"):
            hwm = high_water_mark(spark, staging)
        with tr.span("plans.staging.stage_write"):
            write_staging(stage(read_landing(spark, landing), hwm=hwm), staging)
        with tr.span("plans.quality.check"):
            quality = run_quality_checks(spark.read.parquet(staging))
    layer.setdefault("violations", []).append(sum(quality.values()))
    for df in cached:
        df.unpersist()


def batch_layers(tr: Tracer, layer: dict, n_findings: int, landing: str,
                 staging: str) -> dict:
    """Per-layer numbers of the batch path from a traced drop sequence."""
    stage_self = tr.self_times().get("plans.staging.stage_write", [])
    out = {
        "sources.sarif.bytes_in": statistics.mean(layer["bytes_in"]),
        "plans.convert.findings_out": statistics.mean(layer["findings_out"]),
        "plans.convert.tasks": statistics.mean(layer["convert_tasks"]),
        "plans.landing.files_written": statistics.mean(layer["files_written"]),
        "plans.landing.bytes_per_finding": dir_bytes_files(landing)[0] / n_findings,
        "plans.staging.bytes_per_row": dir_bytes_files(staging)[0] / n_findings,
        "plans.quality.violations": sum(layer["violations"]),
    }
    for i, t in enumerate(stage_self[:MIN_DROPS]):  # stage-write time by drop index
        out[f"plans.staging.stage_write_s.drop{i}"] = t
    return out


def _drop_column():
    return F.split(F.col("scan_run_id"), "/").getItem(1).cast("int")


def check_ingest(spark, expects: list[dict], landing: str, staging: str) -> tuple[dict, set]:
    """Compare the staged table with the generator's expectations.
    Returns (check results, indices of drops whose rows are wrong)."""
    st = spark.read.parquet(staging)
    got_sev: dict = {}
    got_tool: dict = {}
    for r in (st.groupBy(_drop_column().alias("d"), "finding_severity", "tool_name")
              .count().collect()):
        got_sev.setdefault(r["d"], {}).setdefault(r["finding_severity"], 0)
        got_sev[r["d"]][r["finding_severity"]] += r["count"]
        got_tool.setdefault(r["d"], {}).setdefault(r["tool_name"], 0)
        got_tool[r["d"]][r["tool_name"]] += r["count"]
    bad = {d for d, e in enumerate(expects)
           if got_sev.get(d) != e["severity"] or got_tool.get(d) != e["tool"]}
    bad |= set(got_sev) - set(range(len(expects)))
    quality = run_quality_checks(st)
    restaged = stage(read_landing(spark, landing),
                     hwm=high_water_mark(spark, staging)).count()
    n_rows = st.count()
    n_uids = st.select(F.countDistinct("finding_uid")).first()[0]
    checks = {
        "staged_rows": n_rows == sum(e["findings"] for e in expects),
        "per_drop_severity_and_tool": not bad,
        "distinct_uids": n_uids == sum(e["new_uids"] for e in expects),
        "quality_all_zero": not any(quality.values()),
        "restage_adds_zero": restaged == 0,
    }
    if not (checks["staged_rows"] and checks["distinct_uids"]
            and checks["quality_all_zero"] and checks["restage_adds_zero"]):
        bad = set(range(len(expects)))
    return checks, bad


def fixture_uid_ok(spark, root: str) -> bool:
    path = os.path.join(root, "tests", "fixtures", "sample.sarif")
    ocsf = apply_enrichments(
        convert_sarif_to_ocsf(read_sarif(spark, path), now_ms=1710500000000),
        [FindingUIDGenerator()],
    )
    uids = {r["uid"] for r in ocsf.select("finding_info.uid").collect()}
    return FIXTURE_UID in uids


def _ingest_tables(run: Run, tag: str) -> tuple[str, str]:
    base = os.path.join(run.work, tag)
    shutil.rmtree(base, ignore_errors=True)
    return os.path.join(base, "landing"), os.path.join(base, "staging")


def ingest_warmup(run: Run) -> None:
    """WARMUP_DROPS drops on tables of their own: the first stages into an
    empty table, the next ones take the non-empty high-water-mark path."""
    landing, staging = _ingest_tables(run, "warmup")
    gen = corpus.SarifCorpus(run.seed + 1, FILES_PER_DROP, WARMUP_FINDINGS)
    off = Tracer(run.spark, False, "warmup")
    for d in range(WARMUP_DROPS):
        e = gen.write_drop(d, os.path.join(run.work, "warmup", "sarif", str(d)))
        run_drop(run.spark, off, e["files"], f"scan/{d}", landing, staging, {})


def write_drops(run: Run) -> list[dict]:
    """The run's scan drops, generated once and read by every phase."""
    gen = corpus.SarifCorpus(run.seed, FILES_PER_DROP, FINDINGS_PER_DROP)
    n_drops = max(MIN_DROPS, round(run.seconds / NOMINAL_DROP_S))
    return [gen.write_drop(d, os.path.join(run.work, "sarif", str(d)))
            for d in range(n_drops)]


def ingest_batch(run: Run, tr: Tracer, tag: str, expects: list[dict]) -> Phase:
    spark = run.spark
    landing, staging = _ingest_tables(run, tag)
    ph = Phase()
    drop_s, drop_cpu, layer = [], [], {}
    for d, e in enumerate(expects):
        c0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            run_drop(spark, tr, e["files"], f"bench/drop/{d}", landing, staging, layer)
        except Exception as exc:  # a failed drop is a failed operation
            ph.failed += 1
            ph.checks.setdefault("drop_errors", []).append(repr(exc)[:200])
        drop_s.append(time.perf_counter() - t0)
        drop_cpu.append(tree_cpu_s(os.getpid()) - c0)
    ph.attempted = len(expects)
    ph.latencies = drop_s
    ph.samples = {"drop_s": drop_s, "drop_cpu_s": drop_cpu}
    ph.op_s = statistics.median(drop_s)
    # CPU seconds fall from drop to drop as the JVM warms; the mean over the
    # run's drops varied less between runs than their median
    ph.cpu_s = statistics.mean(drop_cpu)
    checks, bad = check_ingest(spark, expects, landing, staging)
    ph.checks.update(checks)
    ph.failed = max(ph.failed, len(bad))
    n = sum(e["findings"] for e in expects)
    ph.rate_per_s = n / sum(drop_s)
    ph.storage_bytes_per_finding = dir_bytes_files(staging)[0] / n
    ph.named = {
        "ingest_findings_per_s": (ph.rate_per_s, "1/s", None),
        "ingest_drop_s_p50": (quantile(drop_s, 0.5), "s", len(drop_s)),
        "ingest_drop_s_p90": (quantile(drop_s, 0.9), "s", len(drop_s)),
        "storage_bytes_per_finding": (ph.storage_bytes_per_finding, "B", None),
    }
    if tr.enabled:
        ph.layers = batch_layers(tr, layer, n, landing, staging)
    return ph


# ---------------------------------------------------------------------------
# file monitor (part of the analytics_panel set-up)
# ---------------------------------------------------------------------------

def _progress_dict(p) -> dict:
    d = p.durationMs
    return {
        "rows": p.numInputRows,
        "trigger_ms": d.get("triggerExecution", 0),
        "add_batch_ms": d.get("addBatch", 0),
        "latest_offset_ms": d.get("latestOffset", 0),
        "planning_ms": d.get("queryPlanning", 0),
        "wal_commit_ms": d.get("walCommit", 0),
    }


def monitor_ingest(run: Run, tr: Tracer, landing: str) -> tuple[dict, dict, dict]:
    """Land seeded OCSF array files through the file-monitor stream in
    drain mode (``available_now``), MONITOR_FILES_PER_TRIGGER files per
    micro-batch. Returns (checks, per-layer numbers, generator output)."""
    from boann_ocsf_security_data_platform_spark.streaming.monitor import (
        start_monitor_stream,
    )

    base = os.path.join(run.work, "monitor")
    shutil.rmtree(base, ignore_errors=True)
    src, ckpt, archive, failed = (
        os.path.join(base, x) for x in ("src", "ckpt", "archive", "failed"))
    gen = corpus.ocsf_monitor_files(run.seed, MONITOR_FILES, MONITOR_FINDINGS_PER_FILE, src)
    with tr.span("streaming.monitor.drain"):
        query = start_monitor_stream(
            run.spark, src, landing, ckpt, archive_dir=archive, failed_dir=failed,
            max_files_per_trigger=MONITOR_FILES_PER_TRIGGER, available_now=True)
        finished = query.awaitTermination(DRAIN_TIMEOUT_S)
        if not finished:
            query.stop()
    batches = [_progress_dict(p) for p in query.recentProgress if p.numInputRows > 0]

    # every good file lands exactly once, in one micro-batch; every bad
    # file ends in failed/ and lands nothing
    batch_of_uid: dict[str, list[int]] = {}
    rows = (run.spark.read.parquet(landing).where("_batch_id >= 0")
            .select("finding_uid", "_batch_id").collect())
    for r in rows:
        batch_of_uid.setdefault(r["finding_uid"], []).append(r["_batch_id"])
    quarantined = set(os.listdir(failed)) if os.path.isdir(failed) else set()
    wrong = 0
    for name in gen["names"]:
        if name in gen["bad"]:
            wrong += name not in quarantined
        else:
            hits = [batch_of_uid.get(u, []) for u in gen["uids"][name]]
            wrong += not (name not in quarantined and all(len(h) == 1 for h in hits)
                          and len({h[0] for h in hits}) == 1)
    checks = {
        "monitor_drained": finished,
        "monitor_landed_rows": len(rows) == sum(len(u) for u in gen["uids"].values()),
        "monitor_files_wrong": wrong,
    }
    def pct(key: str, q: float = 0.5) -> float:
        return quantile([b[key] for b in batches], q) if batches else 0.0

    layers = {
        "streaming.monitor.trigger_ms_p50": pct("trigger_ms"),
        "streaming.monitor.trigger_ms_p90": pct("trigger_ms", 0.9),
        "streaming.monitor.add_batch_ms_p50": pct("add_batch_ms"),
        "streaming.monitor.latest_offset_ms_p50": pct("latest_offset_ms"),
        "streaming.monitor.planning_ms_p50": pct("planning_ms"),
        "streaming.monitor.wal_commit_ms_p50": pct("wal_commit_ms"),
        "streaming.monitor.batches": len(batches),
        "streaming.monitor.rows_per_batch": (
            statistics.mean(b["rows"] for b in batches) if batches else 0.0),
        "streaming.monitor.files_quarantined": len(quarantined),
    }
    return checks, layers, gen


# ---------------------------------------------------------------------------
# analytics_panel
# ---------------------------------------------------------------------------

def findings_queries(staging: str) -> dict:
    """name -> (spark builder, DuckDB oracle SQL) over the staged table."""
    def st(spark):
        return spark.read.parquet(staging)

    latest = Window.partitionBy("finding_uid").orderBy(F.desc("staging_loaded_at"))
    duck_src = f"read_parquet('{staging}/*/*.parquet', hive_partitioning = true)"
    return {
        "findings_severity_by_tool": (
            lambda spark: st(spark).groupBy("finding_severity", "tool_name")
            .agg(F.count(F.lit(1)).alias("n")),
            f"SELECT finding_severity, tool_name, count(*) AS n FROM {duck_src} "
            "GROUP BY ALL",
        ),
        "findings_top_cwes": (
            lambda spark: st(spark).select(F.explode("finding_cwes").alias("cwe"))
            .groupBy("cwe").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.desc("n"), "cwe").limit(10),
            f"SELECT cwe, count(*) AS n FROM (SELECT unnest(finding_cwes) AS cwe "
            f"FROM {duck_src}) GROUP BY cwe ORDER BY n DESC, cwe LIMIT 10",
        ),
        "findings_rescan_ratio": (
            lambda spark: st(spark).agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.countDistinct("finding_uid").alias("n_uids"),
            ).withColumn("ratio", F.round(F.col("n_rows") / F.col("n_uids"), 6)),
            f"SELECT count(*) AS n_rows, count(DISTINCT finding_uid) AS n_uids, "
            f"round(count(*) / count(DISTINCT finding_uid), 6) AS ratio FROM {duck_src}",
        ),
        "findings_latest_per_uid": (
            lambda spark: st(spark).withColumn("rn", F.row_number().over(latest))
            .filter("rn = 1")
            .select("finding_uid", "tool_name", "finding_severity", "staging_loaded_at"),
            f"SELECT finding_uid, tool_name, finding_severity, staging_loaded_at "
            f"FROM {duck_src} QUALIFY row_number() OVER (PARTITION BY finding_uid "
            f"ORDER BY staging_loaded_at DESC) = 1",
        ),
    }


class Panel:
    """Set-up shared by every pass: generated tables, the staged findings
    table, the query list and the DuckDB oracles."""

    def __init__(self, run: Run, tr: Tracer):
        import __spark_entry__ as entry
        from bench import CORE15
        from tools.oracle_check import duck_connect

        spark = run.spark
        self.data = os.path.join(run.work, "tables")
        corpus.tpch_tables(TABLES_SEED, ANALYTICS_SF, self.data)
        landing, staging = _ingest_tables(run, "staged")
        # the staged table holds findings from both ingest paths, like
        # production: a landing table of earlier loads (generated, so the
        # panel bypasses convert, enrich and batch landing writes), then
        # OCSF files landed by the file monitor; staged once
        with tr.span("analytics.setup.stage_findings"):
            self.expects = [corpus.landing_table(run.seed, LANDED_FINDINGS, LANDED_LOADS,
                                                 landing)]
            self.checks, self.layers, mon = monitor_ingest(run, tr, landing)
            self.expects.append(mon)
            with tr.span("plans.staging.stage_write"):
                write_staging(stage(read_landing(spark, landing)), staging)
        self.staging = staging
        st = spark.read.parquet(staging)
        n = st.count()
        self.checks["staged_rows"] = n == sum(e["findings"] for e in self.expects)
        self.checks["quality_all_zero"] = not any(run_quality_checks(st).values())
        self.storage_bytes_per_finding = dir_bytes_files(staging)[0] / n
        self.layers["plans.staging.bytes_per_row"] = self.storage_bytes_per_finding
        qs, oracles = entry.queries(), entry.oracle_sql()
        self.queries = {name: (lambda spark, f=qs[name]: f(spark, self.data), oracles[name])
                        for name in CORE15}
        findings = findings_queries(staging)
        self.queries.update(findings)
        self.layer = {name: f"operators.{QUERY_LAYER[name]}" for name in CORE15}
        self.layer.update(dict.fromkeys(findings, "analytics.findings"))
        self.duck = duck_connect(self.data)

    def check(self, spark) -> dict[str, bool]:
        """Run every query once, collected, against its DuckDB oracle; this
        is also the warm-up pass."""
        from tools.oracle_check import frame_key

        ok = {}
        errors = self.checks.setdefault("oracle_errors", [])
        for name, (build, sql) in self.queries.items():
            try:
                got = frame_key(build(spark).toPandas())
                ok[name] = got == frame_key(self.duck.execute(sql).fetchdf())
            except Exception as exc:  # a query that raises is a wrong result
                ok[name] = False
                errors.append(f"{name}: {exc!r}"[:300])
        got = Counter()
        for r in self.queries["findings_severity_by_tool"][0](spark).collect():
            got[r["finding_severity"]] += r["n"]
        expected = sum((Counter(e["severity"]) for e in self.expects), Counter())
        ok["findings_severity_by_tool"] &= got == expected
        return ok


def analytics_panel(run: Run, tr: Tracer, panel: Panel, correct: dict) -> Phase:
    """seconds / NOMINAL_PASS_S passes over the panel, in a fixed order. A
    query's latency is the median of its executions."""
    spark = run.spark
    ph = Phase()
    names = list(panel.queries)
    per_query: dict[str, list[float]] = {n: [] for n in names}
    per_query_cpu: dict[str, list[float]] = {n: [] for n in names}
    n_passes = max(1, round(run.seconds / NOMINAL_PASS_S))
    for _ in range(n_passes):
        for name in names:
            c0 = tree_cpu_s(os.getpid())
            t0 = time.perf_counter()
            try:
                with tr.span(panel.layer[name]):
                    _noop(panel.queries[name][0](spark))
            except Exception:
                correct[name] = False
                continue
            per_query[name].append(time.perf_counter() - t0)
            per_query_cpu[name].append(tree_cpu_s(os.getpid()) - c0)
    ph.samples = {"query_s": per_query, "query_cpu_s": per_query_cpu}
    ph.attempted = n_passes * len(names)
    ph.failed = n_passes * sum(not correct[name] for name in names)
    medians = {n: statistics.median(t) for n, t in per_query.items() if t}
    ph.latencies = list(medians.values())
    # a median across 19 different queries jumps between the queries either
    # side of it; the geometric mean of per-query medians moves smoothly
    ph.op_s = statistics.geometric_mean(ph.latencies)
    ph.cpu_s = statistics.geometric_mean(
        statistics.median(t) for t in per_query_cpu.values() if t)
    done = [t for ts in per_query.values() for t in ts]
    ph.rate_per_s = len(done) / sum(done)
    ph.storage_bytes_per_finding = panel.storage_bytes_per_finding
    n_q = len(medians)
    ph.named = {
        "analytics_query_s_p50": (quantile(ph.latencies, 0.5), "s", n_q),
        "analytics_query_s_p90": (quantile(ph.latencies, 0.9), "s", n_q),
        "analytics_pass_s": (sum(medians.values()), "s", n_passes),
    }
    if tr.enabled:
        by_layer: dict[str, float] = {}
        for name, m in medians.items():
            key = f"{panel.layer[name]}.query_s"
            by_layer[key] = by_layer.get(key, 0.0) + m
        ph.layers = by_layer
        tasks = tr.totals("tasks")
        ph.layers["analytics.tasks"] = sum(
            v for k, v in tasks.items() if k.startswith(("operators.", "analytics.findings"))
        ) * len(names) / ph.attempted  # per pass
    return ph
