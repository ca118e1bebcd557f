"""capture_drain: commit a seeded change backlog into sqlite with capture
triggers installed, then drain it with `python -m pqstream_spark
--connect sqlite:DB --once`.

Closed loop, two phases: the write phase commits CHANGES_PER_S x
--seconds changes, the drain phase launches the daemon and waits for it
to exit. A `--once` drain pays ~20 s of fixed cost on a 4-core host
(first-batch warm-up and shutdown) before ~0.1 ms per change, so even
this backlog leaves per-change work at about a fifth of the drain:
the end-to-end figures resolve fixed-cost changes, and the per-layer
ones (read_batch, handle_events, render, jsonl write) the per-change
costs. The traced run assembles the daemon's drain loop in-process
from the same public functions, with spans around each call.
"""

from __future__ import annotations

import json
import os
import sqlite3
import statistics
import time

from . import gen
from .metrics import account, highest_supported, percentile
from .procs import DAEMON_CPUS, Daemon, RssSampler, spark_env

CHANGES_PER_S = 3200
TXN = 100


def _create(db: str) -> sqlite3.Connection:
    conn = sqlite3.connect(db)
    for ddl in gen.CAPTURE_DDL:
        conn.execute(ddl)
    conn.commit()
    return conn


def _apply(conn, changes) -> float:
    """Commit `changes` in TXN-statement transactions; returns the
    elapsed seconds."""
    t0 = time.perf_counter()
    for i in range(0, len(changes), TXN):
        for _t, _op, sql, params, _new, _old in changes[i:i + TXN]:
            conn.execute(sql, params)
        conn.commit()
    return time.perf_counter() - t0


def _write_phase(ctx, db: str, changes) -> float:
    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    conn = _create(db)
    try:
        with ctx.tracer.span("outbox_local.LocalCaptureManager.install"):
            LocalCaptureManager(conn).install()
        with ctx.tracer.span("capture.write_captured"):
            return _apply(conn, changes)
    finally:
        conn.close()


def _uncaptured_write_s(ctx, db: str, changes) -> float:
    conn = _create(db)
    try:
        with ctx.tracer.span("capture.write_uncaptured"):
            return _apply(conn, changes)
    finally:
        conn.close()


def _read_output(out_dir: str) -> tuple[list[tuple[int, str]], list[float]]:
    """(seq, line) pairs from the seq-named jsonl files, plus the wall
    time each line became visible (its file's mtime)."""
    files = []
    for f in os.listdir(out_dir):
        if f.startswith("batch-") and f.endswith(".jsonl"):
            lo = int(f[len("batch-"):].split("-")[0])
            files.append((lo, f))
    got, seen_at = [], []
    for lo, f in sorted(files):
        path = os.path.join(out_dir, f)
        mtime = os.stat(path).st_mtime
        with open(path) as fh:
            for i, line in enumerate(fh):
                got.append((lo + i, line.rstrip("\n")))
                seen_at.append(mtime)
    return got, seen_at


def _offset_registered(db: str) -> bool:
    try:
        conn = sqlite3.connect(f"file:{db}?mode=ro", uri=True, timeout=0.05)
        try:
            return conn.execute(
                "SELECT 1 FROM pqstream_consumer_offset WHERE consumer = ?",
                ("daemon",)).fetchone() is not None
        finally:
            conn.close()
    except sqlite3.OperationalError:
        return False  # table not created yet, or a writer holds the lock


def _drain_daemon(ctx, db: str, out_dir: str, log: str) -> dict:
    d = Daemon(ctx.root, ["--connect", f"sqlite:{db}", "--out", out_dir,
                          "--once", "--redactions",
                          json.dumps(gen.REDACTIONS)], log, cpus=DAEMON_CPUS,
               tmp=ctx.tmp)
    try:
        deadline = time.monotonic() + 120
        while not _offset_registered(db):
            if d.proc.poll() is not None or time.monotonic() > deadline:
                raise RuntimeError("daemon exited or stalled before "
                                   "registering its offset:\n"
                                   + d.log_text()[-2000:])
            d.rss.sample()
            time.sleep(0.01)
        t_ready, ready_wall = time.monotonic(), time.time()
        d.rss = RssSampler(d.proc.pid)  # memory over the drain
        rc = d.wait(timeout=150)
        t_exit = time.monotonic()
        if rc != 0:
            raise RuntimeError(f"daemon exit {rc}:\n{d.log_text()[-2000:]}")
        d.rss.sample(force=True)
    finally:
        d.stop()
    return {"setup_s": t_ready - d.t_launch, "drain_s": t_exit - t_ready,
            "ready_wall": ready_wall,
            "peak_rss_mb": d.rss.peak_mb, "rss_median_mb": d.rss.median_mb}


def _drain_inprocess(ctx, spark, db: str, out_dir: str) -> dict:
    """The daemon's sqlite drain loop (remove-then-install, durable
    poller, handle, seq-named jsonl sink, advance) assembled from the
    public functions, each call inside a span. Returns set-up and drain
    times plus one record per non-empty batch."""
    from pqstream_spark.operators.redact import redact_fields
    from pqstream_spark.pipeline import handle_events
    from pqstream_spark.sources.outbox_local import (
        LocalCaptureManager,
        LocalOutboxPoller,
        raw_events_from_outbox,
    )
    from pqstream_spark.streaming.sinks import (
        event_to_json_line,
        jsonl_seq_writer,
    )

    tr = ctx.tracer
    t0 = time.monotonic()
    conn = sqlite3.connect(db)
    batches = []
    try:
        cap = LocalCaptureManager(conn)
        cap.remove()
        with tr.span("outbox_local.LocalCaptureManager.install"):
            cap.install()
        with tr.span("outbox_local.LocalOutboxPoller.open_durable"):
            poller = LocalOutboxPoller.open_durable(conn, consumer="daemon")
        t_ready, ready_wall = time.monotonic(), time.time()
        with tr.span("streaming.sinks.jsonl_seq_writer"):
            write = jsonl_seq_writer(out_dir)
        epoch = 0
        while True:
            with tr.span("outbox_local.LocalOutboxPoller.read_batch") as rd:
                batch = poller.read_batch(spark)
            with tr.span("outbox_local.raw_events_from_outbox"):
                raw = raw_events_from_outbox(batch)
            with tr.span("pipeline.handle_events") as he:
                events = handle_events(raw, redactions=gen.REDACTIONS,
                                       typed_wire=True)
                # materialized, so the sink span below times the sink only
                events = events.localCheckpoint(eager=True)
            with tr.span("streaming.sinks.jsonl_write") as wr:
                write(events, epoch)
            poller.advance()
            epoch += 1
            n = events.count()
            if n == 0:
                break
            batches.append({
                "rows": n,
                "read_s": rd["end"] - rd["start"],
                "handle_s": he["end"] - he["start"],
                "write_s": wr["end"] - wr["start"],
                **_batch_counts(tr, raw, events, redact_fields,
                                event_to_json_line),
            })
        t_exit = time.monotonic()
    finally:
        conn.close()
    return {"setup_s": t_ready - t0, "drain_s": t_exit - t_ready,
            "ready_wall": ready_wall,
            "batches": batches}


def _batch_counts(tr, raw, events, redact_fields, event_to_json_line) -> dict:
    """Counts of one handled batch, measured outside the loop's spans."""
    size = "coalesce(size(payload), 0) + coalesce(size(previous), 0)"
    with tr.span("operators.redact_fields"):
        before = raw.selectExpr(f"sum({size})").first()[0] or 0
        after = redact_fields(raw, gen.REDACTIONS).selectExpr(
            f"sum({size})").first()[0] or 0
    rows = [r.asDict() for r in events.orderBy("seq").toLocalIterator()]
    with tr.span("streaming.sinks.event_to_json_line") as sp:
        for r in rows:
            event_to_json_line(r)
    return {"updates": sum(1 for r in rows if r["op"] == "UPDATE"),
            "fields_redacted": before - after,
            "render_s": sp["end"] - sp["start"]}


def run(ctx) -> dict:
    tr = ctx.tracer
    g = gen.ChangeGen(ctx.seed)
    changes = g.changes(int(CHANGES_PER_S * ctx.seconds))
    db = os.path.join(ctx.work, "source.db")
    out_dir = os.path.join(ctx.work, "out")
    write_s = _write_phase(ctx, db, changes)
    if tr.enabled:
        from pqstream_spark.session import get_spark

        uncaptured_s = _uncaptured_write_s(
            ctx, os.path.join(ctx.work, "plain.db"), changes)
        # the session starts after the write phase, as the daemon would
        os.environ.update(spark_env(DAEMON_CPUS, ctx.tmp))
        rss = RssSampler(os.getpid())
        with rss.sampling():
            t0 = time.monotonic()
            with tr.span("session.get_spark"):
                spark = get_spark("pqstream-daemon")
            session_s = time.monotonic() - t0
            ctx.own_spark = spark
            r = _drain_inprocess(ctx, spark, db, out_dir)
        r["setup_s"] += session_s
        r["peak_rss_mb"] = rss.peak_mb
        r["rss_median_mb"] = rss.median_mb
    else:
        r = _drain_daemon(ctx, db, out_dir,
                          os.path.join(ctx.work, "daemon.log"))

    got, seen_at = _read_output(out_dir)
    want = [(i + 1, gen.expected_change_line(t, op, new, old))
            for i, (t, op, _s, _p, new, old) in enumerate(changes)]
    acct = account(want, got)
    # each delivered change's wait from the consumer being up (its
    # offset row registered) to its line being visible; the JVM start
    # before that is setup_s
    lat_ms = [(t - r["ready_wall"]) * 1000.0 for t in seen_at]
    p50, n = percentile(lat_ms, 50.0)
    p99, _ = percentile(lat_ms, 99.0)
    e2e = {
        "setup_s": r["setup_s"],
        "latency_p50_ms": p50,
        "latency_p99_ms": p99,
        "events_per_s": len(changes) / r["drain_s"],
    }
    info = {"params": g.params(), "changes": len(changes),
            "drain_s": r["drain_s"], "latency_samples": n, "account": acct,
            "highest_supported_percentile": highest_supported(n),
            "peak_rss_mb": r["peak_rss_mb"],
            "rss_median_mb": r["rss_median_mb"],
            "capture_rows_per_s": len(changes) / write_s}
    layers = {}
    if tr.enabled:
        b = r["batches"]
        rows = sum(x["rows"] for x in b)
        layers = {
            "outbox_local.read_batch_ms":
                1000.0 * statistics.median([x["read_s"] for x in b]),
            "outbox_local.rows_per_batch": rows / len(b),
            "outbox_local.trigger_write_amplification": write_s / uncaptured_s,
            "outbox_local.capture_rows_per_s": len(changes) / write_s,
            "pipeline.handle_events_ms_per_kevent":
                1000.0 * sum(x["handle_s"] for x in b) / (rows / 1000.0),
            "operators.merge_patch.updates": sum(x["updates"] for x in b),
            "operators.redact.fields_redacted":
                sum(x["fields_redacted"] for x in b),
            "streaming.sinks.render_us_per_event":
                1e6 * sum(x["render_s"] for x in b) / rows,
            "streaming.sinks.jsonl_write_ms_per_batch":
                1000.0 * statistics.median([x["write_s"] for x in b]),
        }
    return {"attempted": acct["expected"], "failed": acct["failed"],
            "correct": acct["failed"] == 0, "e2e": e2e, "layers": layers,
            "info": info}
