"""Workload ``log_pipeline``: the reference's whole product, ingest then
daily report, closed loop.

One pass drains a fresh batch of seeded input through the three
streaming ingest pipelines (``ingest_apache_access``, ``ingest_authfail``
and ``ingest_maillog``, ``trigger(availableNow)``: each micro-batch
starts after the previous one commits) with a fixed maxFilesPerTrigger,
so each source runs several micro-batches, then runs
``report.dailyreport.run_daily_report`` over the tables just written,
with a fake ``HostState``. Operations: each drain and the report; the
latency samples are the micro-batches (``triggerExecution``).

A micro-batch costs about the same whether it holds 1k or 10k rows, so
this workload is bound by per-batch overhead in ``streaming/ingest.py``;
the report reads what ingest wrote, so an ingest change that costs the
report shows here too.

Output checks (every pass): the report's apache byte totals, authfail
attempt total and mail listing against the generator's 24 h counts;
in set-up also the good, dead-letter and inbox row counts.
"""

from __future__ import annotations

import json
import os
import re
from datetime import datetime, timezone

import datagen
import harness

NOW = datetime(2026, 8, 15, 12, 0, 0, tzinfo=timezone.utc)
FILES = 6  # per text source and pass
LINES = 1000  # per file
MESSAGES = 3  # maillog files per pass
MAX_FILES_PER_TRIGGER = 1
PASS_INPUTS = 3  # passes of input generated up front, used in turn
SOURCES = ("apache_access", "authfail", "maillog")
DURATIONS = ("addBatch", "queryPlanning", "walCommit", "commitOffsets",
             "latestOffset", "getBatch", "triggerExecution")


def inputs(run) -> None:
    run.counts = {}
    for i in range(PASS_INPUTS):
        run.counts[f"pass-{i}"] = datagen.write_logs(
            run.path("src", f"pass-{i}"), run.seed * 1000 + i, NOW, FILES, LINES, MESSAGES)
    run.batches = {s: [] for s in SOURCES}  # traced passes' progress
    run.sections = []
    if run.trace:
        _timed_sections(run)


def _config(tables: str):
    from logsdb_spark.config import Config

    return Config.from_dict({
        "storage": {"tables_dir": tables, "checkpoint_dir": tables + "-ckpt"},
        "features": {"apache_access": True, "authfail": True, "maillog": True},
        "dailyreport": {"recipient": "ops@example.com", "mailbox": "/nonexistent",
                        "logs_dir": "/nonexistent"},
    })


def _drain(run, source: str, src: str, tables: str, groups: list) -> list[dict]:
    from logsdb_spark.streaming import ingest

    start = {
        "apache_access": ingest.ingest_apache_access,
        "authfail": ingest.ingest_authfail,
        "maillog": lambda spark, s, o, **kw: ingest.ingest_maillog(spark, s, o, now=NOW, **kw),
    }[source]
    q = start(run.spark, src, tables, max_files_per_trigger=MAX_FILES_PER_TRIGGER)
    groups.append(str(q.runId))
    ingest.run_until_drained(q, timeout_sec=60)
    if q.exception() is not None:
        raise RuntimeError(str(q.exception()))
    return [p for p in (json.loads(x.json) for x in q.recentProgress)
            if p.get("numInputRows", 0) > 0]


def _host():
    from logsdb_spark.report.dailyreport import HostState

    return HostState(loadavg=(0.1, 0.2, 0.3), disk_size=100, disk_used=10,
                     hostname="perfbench")


def _report(run, tables: str):
    from logsdb_spark.report.dailyreport import run_daily_report

    return run_daily_report(run.spark, _config(tables), _host(), NOW,
                            local_domains={"example.org"})


def check_report(run, body: str, c: dict, where: str) -> None:
    from logsdb_spark.report.render import longint

    for label, key in (("sent", "apache_bytesout_24h"), ("received", "apache_bytesin_24h")):
        total = re.escape(longint(c[key]))
        run.check(re.search(rf"Total bytes {label}: +{total}\n", body) is not None,
                  f"{where}: apache bytes {label}")
    auth = body.split("Failed SSH login attempts in the past 24 hours:\n", 1)[-1]
    attempts = sum(int(m.group(1)) for m in re.finditer(r"^\|\s+(\d+) \| 198\.51\.", auth, re.M))
    run.check(attempts == c["auth_24h"], f"{where}: {attempts} authfail attempts, want {c['auth_24h']}")
    run.check(body.count("\nFrom:    Sender ") == c["mail"], f"{where}: mail listing")


def _pass(run, tag: str, src: str, check_tables: bool) -> None:
    """Drain one input through the three pipelines, then report."""
    c = run.counts[src]
    tables = run.path(f"tables-{tag}")
    dirs = {"apache_access": "apache", "authfail": "authfail", "maillog": "maillog"}
    for source in SOURCES:
        groups: list = []
        progress = run.op(f"drain {source}", "drain",
                          lambda: _drain(run, source, run.path("src", src, dirs[source]),
                                         tables, groups),
                          sample=False, groups=groups)
        if progress is None:
            continue
        if run.passes:
            for p in progress:
                run.sample(p["durationMs"]["triggerExecution"])
            if run.tracer.on:
                _trace_batches(run, source, progress)
    rep = run.op("report", "report", lambda: _report(run, tables), sample=False)
    if rep is not None:
        check_report(run, rep.body, c, f"report {tag}")
        if run.tracer.on:
            run.tracer.nest(run.op_spans[-1], [])
    if run.passes:
        run.passes[-1]["good"] = c["apache_good"] + c["auth_good"] + c["mail"]
    if check_tables:
        read = run.spark.read.parquet
        for table, want in (("apache_access", c["apache_good"]),
                            ("apache_access_dead_letter", c["apache_dead"]),
                            ("authfail", c["auth_good"]),
                            ("authfail_dead_letter", c["auth_dead"]),
                            ("inbox", c["mail"])):
            n = read(os.path.join(tables, table)).count()
            run.check(n == want, f"{tag}: {table} has {n} rows, want {want}")
    if run.tracer.on:
        run.output_files = sum(len([f for f in fs if f.endswith(".parquet")])
                               for _r, _d, fs in os.walk(tables))
        run.dead_rows = sum(run.spark.read.parquet(os.path.join(tables, t)).count()
                            for t in ("apache_access_dead_letter", "authfail_dead_letter"))
        run.planted_dead = c["apache_dead"] + c["auth_dead"]
    harness.discard(tables, tables + "-ckpt")


def _trace_batches(run, source: str, progress: list[dict]) -> None:
    """Batch spans under the drain span, with their Spark jobs."""
    span = run.op_spans[-1]
    kids = []
    for p in progress:
        start = datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()
        start -= run.tracer.origin
        end = start + p["durationMs"]["triggerExecution"] / 1e3
        kids.append((f"{source} batch {p['batchId']}", "batch", start, end,
                     {k: p["durationMs"].get(k, 0) for k in DURATIONS}))
    run.tracer.nest(span, kids)
    span["attrs"]["planning_ms"] = sum(p["durationMs"].get("queryPlanning", 0) for p in progress)
    run.batches[source].append({"progress": progress, "jobs": span["attrs"]["jobs"]})


def layouts(run, rep: int) -> dict:
    """No layouts: ingest itself writes the tables the report reads.
    This stages the set-up's small input: one file per source."""
    run.counts[f"setup-{rep}"] = datagen.write_logs(
        run.path("src", f"setup-{rep}"), run.seed * 1000 + 500 + rep, NOW, 1, LINES, 1)
    return {}


def warm(run, state: dict, rep: int) -> None:
    """One warm micro-batch per source and one report, all checked."""
    _pass(run, f"setup-{rep}", f"setup-{rep}", check_tables=True)


def one_pass(run, state: dict, p: int) -> None:
    _pass(run, f"pass-{p}", f"pass-{p % PASS_INPUTS}", check_tables=False)


def _timed_sections(run):
    """Wrap the report's three section builders so each call is a span."""
    from logsdb_spark.report import dailyreport as dr

    def wrap(name, fn):
        def timed(*a, **kw):
            with run.tracer.span(f"{name} section", "section") as s:
                out = fn(*a, **kw)
            if s is not None and run.tracer.on:
                run.sections.append((name, s))
            return out
        return timed

    for name in ("apache", "authfail", "maillog"):
        attr = f"{name}_daily_report"
        setattr(dr, attr, wrap(name, getattr(dr, attr)))


def report(run, state: dict) -> dict:
    untraced = [p for p in run.passes if not p["traced"]]
    drains = [v for p in untraced for k, v in p["slots"].items() if k.startswith("drain")]
    good = sum(p.get("good", 0) for p in untraced)
    batches = [ms for ms, traced in run.samples if not traced]
    reports = [p["slots"]["report"] for p in run.passes
               if not p["traced"] and "report" in p["slots"]]
    pct, tail_ms = harness.tail(batches)
    return {
        "ingest_rows_per_s": good / sum(drains) if drains else float("nan"),
        "ingest_batch_p50_ms": harness.median(batches),
        "ingest_batch_tail_ms": tail_ms,
        "ingest_batch_tail_percentile": pct,
        "report_s": harness.median(reports),
        "max_files_per_trigger": MAX_FILES_PER_TRIGGER,
        "files_per_pass": {"apache_access": FILES, "authfail": FILES, "maillog": MESSAGES},
        "lines_per_file": LINES,
    }


def layers(run, state: dict) -> dict:
    out = {}
    for source in SOURCES:
        runs = run.batches[source]
        if not runs:
            continue
        prog = [p for r in runs for p in r["progress"]]
        pre = f"streaming.ingest.{source}"
        out[f"{pre}.batches"] = len(prog) / len(runs)
        out[f"{pre}.jobs_per_batch"] = sum(r["jobs"] for r in runs) / len(prog)
        for k in DURATIONS[:-1]:
            out[f"{pre}.{k}_ms"] = harness.median([p["durationMs"].get(k, 0) for p in prog])
        out[f"{pre}.batch_ms_growth"] = harness.median(
            [harness.slope([p["durationMs"]["triggerExecution"] for p in r["progress"]])
             for r in runs])
    out["streaming.ingest.output_files"] = getattr(run, "output_files", 0)
    out["streaming.ingest.dead_letter_rows"] = getattr(run, "dead_rows", 0)
    out["streaming.ingest.planted_dead_letters"] = getattr(run, "planted_dead", 0)
    for name in ("apache", "authfail", "maillog"):
        spans = [s for n, s in run.sections if n == name]
        out[f"report.dailyreport.{name}_section_s"] = harness.median(
            [s["end"] - s["start"] for s in spans])
    reports = [s for s in run.op_spans if s["kind"] == "report"]
    out["report.dailyreport.jobs"] = harness.median([s["attrs"]["jobs"] for s in reports])
    out.update(parse_rates(run))
    return out


def parse_rates(run) -> dict:
    """Batch read of one pass's files through the sources' public parse
    functions: rows of parsed good events per second."""
    import time

    from logsdb_spark.sources import apache_access, authfail, maillog

    src = run.path("src", "pass-0")
    out = {}
    jobs = {
        "apache_access": lambda: apache_access.good_events(apache_access.parse_apache_lines(
            run.spark.read.text(os.path.join(src, "apache")))).count(),
        "authfail": lambda: authfail.good_events(authfail.parse_authfail_lines(
            run.spark.read.text(os.path.join(src, "authfail")))).count(),
        "maillog": lambda: maillog.parse_email_messages(
            run.spark.read.format("binaryFile").load(os.path.join(src, "maillog")), now=NOW).count(),
    }
    for name, fn in jobs.items():
        fn()  # warm
        t0 = time.perf_counter()
        n = fn()
        out[f"sources.{name}.parse_rows_per_s"] = n / (time.perf_counter() - t0)
    return out
