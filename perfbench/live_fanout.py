"""live_fanout: open-loop changelog traffic fanned out to three Listen
subscribers over the HTTP NDJSON wire.

The generator (this process's main thread) drops one seeded
events-schema parquet file into the changelog directory every
INTERVAL_S, on a fixed schedule that does not slow when the daemon
does. The daemon runs `python -m pqstream_spark --connect DIR
--listen-http 0 --out OUT`. Three subscriber threads hold one
/listen connection each, with different table regexps and buffer
policies, and timestamp every line they read. Latency runs from each
event's scheduled creation time to the moment a subscriber reads its
line. PRIME_FILES delivered one at a time, then LEAD_S of open-loop
traffic, precede the measured window; they are checked but not timed.

The traced run assembles the daemon's directory-backend topology
in-process (session, changelog stream, handled chain, Dispatcher +
WireServer, jsonl sink query) so it can record spans around each call
and read the fan-out query's progress reports.
"""

from __future__ import annotations

import http.client
import json
import os
import re
import select
import socket
import statistics
import threading
import time

from . import gen
from .metrics import account, highest_supported, percentile
from .procs import DAEMON_CPUS, Daemon, RssSampler, spark_env

# Events per second offered. Each micro-batch pays a fixed ~1 s of
# fan-out work (addBatch) however few rows it holds, so micro-batches
# run back to back and the fan-out's busy share stays at 0.75 to 0.9
# at 250, 500 and 1000 events/s; the median latency at 500 is within
# ~15% of that at 1000. At 500 per-event work is a small part of a
# trigger, so a slower host stretches latency roughly in proportion
# instead of feeding a growing backlog.
RATE = 500
INTERVAL_S = 0.1       # one changelog file per interval
PRIME_FILES = 2
# Open-loop traffic before the measured window. The daemon keeps
# warming (JIT, Python workers) for its first 10 to 12 s of traffic,
# the median latency of each second falling by about a third; with a
# 6 s lead-in, four runs of ten still carried that slope into the
# window and set its p99.
LEAD_S = 12.0
DRAIN_TIMEOUT_S = 30.0
# A generator that falls behind accumulates lateness file after file;
# one late wake-up is a scheduling hiccup whose cost latency already
# carries (it is timed from the schedule). Beyond this, the run is
# invalid and not reported.
MAX_LATENESS_S = 0.25
BUFFER = 4096
STATS_EVERY_S = 0.5
SUBSCRIBERS = (
    # (name, table regexp, buffer policy): inline delivery (the
    # reference's unbuffered channel), a blocking buffer, a lossy one.
    # `orders` events match one subscriber and the others two, so the
    # seed's table skew moves the match ratio
    ("all", ".*", None),
    ("users", "^users$", "block"),
    ("notes", "^notes$", "drop-oldest"),
)


class Subscriber(threading.Thread):
    """One /listen connection; records (seq, receive time, line)."""

    def __init__(self, port: int, name: str, regexp: str, policy) -> None:
        super().__init__(name=f"sub-{name}", daemon=True)
        self.sub_name, self.regexp = name, regexp
        q = f"tables={regexp}&with_seq=1&buffer={BUFFER}"
        if policy:
            q += f"&policy={policy}"
        self.sock = socket.create_connection(("127.0.0.1", port))
        self.sock.sendall(f"GET /listen?{q} HTTP/1.1\r\nHost: bench\r\n\r\n"
                          .encode())
        self.got: list[tuple[int, float, str]] = []
        self.bytes = 0
        # time blocked in recv within `window` (monotonic start, end),
        # set before the window opens
        self.window = (float("inf"), float("inf"))
        self.idle_s = 0.0
        self.error: str | None = None

    def run(self) -> None:
        buf = b""
        header_done = False
        sock, got = self.sock, self.got
        try:
            while True:
                t0 = time.monotonic()
                chunk = sock.recv(1 << 16)
                t1 = time.monotonic()
                w0, w1 = self.window
                self.idle_s += max(0.0, min(t1, w1) - max(t0, w0))
                if not chunk:
                    break
                self.bytes += len(chunk)
                buf += chunk
                if not header_done:
                    head, sep, rest = buf.partition(b"\r\n\r\n")
                    if not sep:
                        continue
                    if not head.startswith(b"HTTP/1.1 200"):
                        self.error = head.decode(errors="replace")
                        break
                    header_done, buf = True, rest
                *lines, buf = buf.split(b"\n")
                for raw in lines:
                    line = raw.decode()
                    # with_seq puts seq first: {"seq":N,...
                    seq = int(line[7:line.index(",", 7)])
                    got.append((seq, t1, line))
        except OSError as ex:
            self.error = repr(ex)
        finally:
            self.sock.close()


class StatsPoller:
    """GET /stats from the generator's thread without blocking it: a
    request is sent, and its reply collected while the generator waits
    for its next due time, so a slow reply never delays the schedule.
    At most one request is in flight, at most one per STATS_EVERY_S."""

    def __init__(self, port: int, tracer) -> None:
        self.port, self.tracer = port, tracer
        self.samples: list[tuple[int, dict]] = []
        self.sock = None
        self.next_at = 0.0

    def request(self, generated: int) -> None:
        now = time.monotonic()
        if self.sock is not None or now < self.next_at:
            return
        self.next_at = now + STATS_EVERY_S
        self.generated, self.buf, self.t_sent = generated, b"", now
        self.sock = socket.create_connection(("127.0.0.1", self.port))
        self.sock.sendall(b"GET /stats HTTP/1.1\r\nHost: bench\r\n"
                          b"Connection: close\r\n\r\n")
        self.sock.setblocking(False)

    def _read(self) -> None:
        try:
            chunk = self.sock.recv(1 << 16)
        except BlockingIOError:
            return
        if chunk:
            self.buf += chunk
            return
        self.sock.close()
        self.sock = None
        body = self.buf.partition(b"\r\n\r\n")[2]
        self.samples.append((self.generated, json.loads(body)))
        # the reply's round trip, as a span of its own
        self.tracer.record("streaming.subscribe.Dispatcher.stats",
                           self.t_sent, time.monotonic())

    def close(self) -> None:
        """Abandon a request still in flight."""
        if self.sock is not None:
            self.sock.close()
            self.sock = None

    def wait_until(self, t: float) -> None:
        while True:
            left = t - time.monotonic()
            if left <= 0:
                return
            if self.sock is None:
                time.sleep(left)
                return
            if select.select([self.sock], [], [], left)[0]:
                self._read()


def _get_json(port: int, path: str) -> dict:
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=10)
    try:
        conn.request("GET", path)
        return json.loads(conn.getresponse().read())
    finally:
        conn.close()


class _DaemonSystem:
    """The system under test as a separate process."""

    def __init__(self, ctx, changelog: str, out: str) -> None:
        self.d = Daemon(ctx.root, ["--connect", changelog, "--listen-http",
                                   "0", "--out", out],
                        os.path.join(ctx.work, "daemon.log"), cpus=DAEMON_CPUS,
                        tmp=ctx.tmp)
        self.t_launch = self.d.t_launch
        self.rss = self.d.rss

    def port(self, deadline: float) -> int:
        pat = re.compile(r"Listen wire serving on http://127\.0\.0\.1:(\d+)/")
        while time.monotonic() < deadline:
            m = pat.search(self.d.log_text())
            if m:
                return int(m.group(1))
            if self.d.proc.poll() is not None:
                break
            time.sleep(0.02)
        raise RuntimeError("daemon did not start its wire:\n"
                           + self.d.log_text()[-2000:])

    def progress(self) -> list[dict]:
        return []

    def stop(self) -> None:
        self.d.stop()


class _InProcessSystem:
    """The daemon's directory-backend topology assembled in this process
    from the public functions (mirrors `python -m pqstream_spark
    --connect DIR --listen-http 0 --out OUT`), with spans."""

    def __init__(self, ctx, changelog: str, out: str) -> None:
        from pqstream_spark.pipeline import handle_events
        from pqstream_spark.session import get_spark
        from pqstream_spark.streaming.sinks import jsonl_dir_writer
        from pqstream_spark.streaming.source import stream_changelog
        from pqstream_spark.streaming.subscribe import (
            Dispatcher,
            SubscriptionManager,
        )
        from pqstream_spark.streaming.wire_http import WireServer

        tr = ctx.tracer
        self.ctx = ctx
        self.t_launch = time.monotonic()
        self.rss = RssSampler(os.getpid())
        os.environ.update(spark_env(DAEMON_CPUS, ctx.tmp))
        with tr.span("session.get_spark"):
            spark = get_spark("pqstream-daemon")
        ctx.own_spark = self.spark = spark
        with tr.span("streaming.source.stream_changelog"):
            src = stream_changelog(spark, changelog)
        with tr.span("pipeline.handle_events"):
            events = handle_events(src, redactions={}, table_regexp=".*",
                                   typed_wire=True)
        self.disp = Dispatcher(events)
        self.wire = WireServer(self.disp, port=0)
        self.wire.start_background()
        self.fanout = self.disp.start()

        def write(df, epoch):
            with tr.span("streaming.sinks.jsonl_write"):
                jsonl_dir_writer(out)(df, epoch)

        def source():
            with tr.span("streaming.source.stream_changelog"):
                return stream_changelog(spark, changelog)

        self.mgr = SubscriptionManager(source, redactions={})
        self.sink = self.mgr.listen("daemon", table_regexp=".*",
                                    foreach_batch=write, typed_wire=True)

    def port(self, deadline: float) -> int:
        return self.wire.server_address[1]

    def progress(self) -> list[dict]:
        with self.ctx.tracer.span("streaming.StreamingQuery.recentProgress"):
            return [json.loads(p.json) for p in self.fanout.recentProgress]

    def stop(self) -> None:
        self.sink.processAllAvailable()
        self.disp.stop(drain=True)
        self.wire.stop()
        self.mgr.stop_all()


def _wait_ready(system, port: int, n_subs: int, deadline: float) -> None:
    while time.monotonic() < deadline:
        try:
            h = _get_json(port, "/health")
            if h["status"] == "ok" and h["subscribers"] >= n_subs:
                return
        except (OSError, ValueError):
            pass
        system.rss.sample()
        time.sleep(0.02)
    raise RuntimeError("daemon not ready (health/subscribers)")


def run(ctx) -> dict:
    tr = ctx.tracer
    changelog = os.path.join(ctx.work, "changelog")
    out = os.path.join(ctx.work, "out")
    os.makedirs(changelog)
    g = gen.EventGen(ctx.seed)
    per_file = int(RATE * INTERVAL_S)
    lead_files = int(round(LEAD_S / INTERVAL_S))
    n_files = PRIME_FILES + lead_files + int(round(ctx.seconds / INTERVAL_S))
    files = [g.events(per_file) for _ in range(n_files)]  # before timing
    # the first parquet write pays pyarrow's lazy imports (~0.4 s): pay
    # them here, off the schedule
    gen.write_events_parquet(files[0], os.path.join(ctx.work, "warm.parquet"),
                             0)

    system = (_InProcessSystem if tr.enabled else _DaemonSystem)(
        ctx, changelog, out)
    subs: list[Subscriber] = []
    try:
        deadline = time.monotonic() + 150
        port = system.port(deadline)
        subs = [Subscriber(port, *s) for s in SUBSCRIBERS]
        for s in subs:
            s.start()
        _wait_ready(system, port, len(subs), deadline)
        setup_s = time.monotonic() - system.t_launch

        # priming, closed loop: the first batches pay one-off costs (code
        # generation, Python workers, JIT) that would otherwise sit in
        # the open-loop window as a startup backlog
        due = [0.0] * n_files
        for i in range(PRIME_FILES):
            due[i] = time.monotonic()
            gen.write_events_parquet(
                files[i], os.path.join(changelog, f"part-{i:06d}.parquet"),
                int(time.time() * 1e6))
            end = time.monotonic() + 120
            while len(subs[0].got) < (i + 1) * per_file:
                if time.monotonic() > end:
                    raise RuntimeError("priming batch never delivered")
                system.rss.sample()
                time.sleep(0.01)

        # open loop: file i is due at t0 + i*INTERVAL_S whatever the
        # daemon does; all events of a file share its due time
        t0 = time.monotonic() + INTERVAL_S
        for i in range(PRIME_FILES, n_files):
            due[i] = t0 + (i - PRIME_FILES) * INTERVAL_S
        t_win = due[PRIME_FILES + lead_files]
        t_win_end = due[-1] + INTERVAL_S
        for s in subs:
            s.window = (t_win, t_win_end)
        lateness = []
        stats = StatsPoller(port, tr)
        for i in range(PRIME_FILES, n_files):
            if i == PRIME_FILES + lead_files:
                # memory is read over the measured window, after the
                # start-up transients (first batches, worker spawns)
                system.rss = RssSampler(system.rss.root)
            stats.wait_until(due[i])
            gen.write_events_parquet(
                files[i], os.path.join(changelog, f"part-{i:06d}.parquet"),
                int(time.time() * 1e6))
            lateness.append(time.monotonic() - due[i])
            system.rss.sample()
            stats.request((i + 1) * per_file)
        t_gen_end = time.monotonic()
        stats.close()

        # drain: /stats shows the loop caught up with every buffer empty,
        # and every delivered line has arrived (a drop is then a missing
        # line, counted as a failure below, not a stalled run)
        total = n_files * per_file
        drained = False
        end = time.monotonic() + DRAIN_TIMEOUT_S
        while time.monotonic() < end:
            system.rss.sample()
            st = _get_json(port, "/stats")
            subs_st = st["subscribers"].values()
            if (st["dispatched"] >= total
                    and all(v["backlog"] == 0 for v in subs_st)
                    and sum(len(s.got) for s in subs)
                    >= sum(v["delivered"] for v in subs_st)):
                stats.samples.append((total, st))
                drained = True
                break
            time.sleep(0.05)
        t_drained = time.monotonic()
        system.rss.sample(force=True)
        progress = system.progress()
        stats_samples = stats.samples
    finally:
        system.stop()
        for s in subs:
            s.join(timeout=30)
    if any(s.is_alive() for s in subs):
        raise RuntimeError("subscriber connection still open after stop")

    # the traced run shares this process's interpreter with the Spark
    # driver's dispatch loop, so its generator wakes late more often; it
    # reports per-layer figures, not latency, and is not held to the limit
    if max(lateness) > MAX_LATENESS_S and not tr.enabled:
        worst = max(range(len(lateness)), key=lateness.__getitem__)
        return {"invalid": f"generator fell behind: max lateness "
                           f"{lateness[worst] * 1000:.1f} ms at file "
                           f"{worst} of {len(lateness)}"}
    if not drained:
        return {"invalid": "/stats backlog never returned to zero within "
                           f"{DRAIN_TIMEOUT_S}s of the last event"}

    # output checks
    all_events = [e for evs in files for e in evs]
    seq_due = {}
    for i, evs in enumerate(files):
        for e in evs:
            seq_due[e["event_id"]] = due[i]
    accts, lat_ms, by_sec = {}, [], {}
    last_seen = 0.0
    for s in subs:
        if s.error:
            raise RuntimeError(f"subscriber {s.sub_name}: {s.error}")
        want = [(e["event_id"], gen.expected_event_line(e, True))
                for e in all_events
                if re.search(s.regexp, gen.event_table(e))]
        accts[s.sub_name] = account(want, [(q, ln) for q, _t, ln in s.got])
        for q, t, _ln in s.got:
            if q in seq_due:
                sec = int(seq_due[q] - due[0])
                by_sec.setdefault(sec, []).append((t - seq_due[q]) * 1000.0)
            if seq_due.get(q, 0) >= t_win:
                lat_ms.append((t - seq_due[q]) * 1000.0)
                last_seen = max(last_seen, t)
    line_seq = {gen.expected_event_line(e, False): e["event_id"]
                for e in all_events}
    got_out = []
    for f in sorted(os.listdir(out)) if os.path.isdir(out) else []:
        if f.endswith(".jsonl"):
            with open(os.path.join(out, f)) as fh:
                for i, line in enumerate(fh):
                    line = line.rstrip("\n")
                    got_out.append((line_seq.get(line, -1 - len(got_out)),
                                    line))
    accts["daemon_out"] = account(
        [(e["event_id"], gen.expected_event_line(e, False))
         for e in all_events], got_out)
    failed = sum(a["failed"] for a in accts.values())
    attempted = sum(a["expected"] for a in accts.values())

    n = len(lat_ms)
    p50, _ = percentile(lat_ms, 50.0)
    p99, _ = percentile(lat_ms, 99.0)
    hp = highest_supported(n)
    n_win = (n_files - PRIME_FILES - lead_files) * per_file
    e2e = {
        "setup_s": setup_s,
        "latency_p50_ms": p50,
        "latency_p99_ms": p99,
        "events_per_s": n_win / (last_seen - t_win),
    }
    last = stats_samples[-1][1]
    info = {
        "params": g.params(), "rate": RATE, "latency_samples": n,
        "highest_supported_percentile": hp,
        "latency_at_highest_ms": percentile(lat_ms, hp)[0] if hp else None,
        "generator_max_lateness_ms": max(lateness) * 1000.0,
        "peak_rss_mb": system.rss.peak_mb,
        "rss_median_mb": system.rss.median_mb,
        "drain_s": t_drained - t_gen_end,
        # median latency of the events due in each second of traffic,
        # warm-up included: shows whether the window was steady
        "p50_ms_by_second": [round(statistics.median(by_sec[k]))
                             for k in sorted(by_sec)],
        "account": accts,
        "stats": last,
    }
    layers = {}
    if tr.enabled:
        layers = _layers(ctx, system, progress, stats_samples, subs,
                         t_win, t_win_end, changelog)
    return {"attempted": attempted, "failed": failed, "correct": failed == 0,
            "e2e": e2e, "layers": layers, "info": info}


def _iso_to_mono(ts: str) -> float:
    from datetime import datetime

    wall = datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()
    return time.monotonic() - (time.time() - wall)


def _layers(ctx, system, progress, stats_samples, subs, t_win, t_win_end,
            changelog) -> dict:
    """Per-layer figures of the traced run."""
    from pqstream_spark.pipeline import handle_events
    from pqstream_spark.streaming.sinks import event_to_json_line
    from pqstream_spark.streaming.source import batch_changelog

    tr = ctx.tracer
    win = [p for p in progress
           if p.get("numInputRows", 0) > 0
           and _iso_to_mono(p["timestamp"]) >= t_win - 0.05]
    dur = [p["durationMs"] for p in win]

    def med(key):
        return statistics.median([d.get(key, 0) for d in dur]) if dur else 0.0

    wall = t_win_end - t_win
    last = stats_samples[-1][1]
    dispatched = last["dispatched"]
    deliveries = sum(v["delivered"] for v in last["subscribers"].values())
    # the pipeline's own per-event cost, over the whole retained
    # changelog as one batch (the fan-out's addBatch also holds delivery)
    spark = system.spark
    with tr.span("pipeline.handle_events"):
        ev = handle_events(batch_changelog(spark, changelog),
                           redactions={}, table_regexp=".*", typed_wire=True)
        ev = ev.localCheckpoint(eager=True)
    handled_s = tr.durations("pipeline.handle_events")[-1]
    rows = [r.asDict() for r in ev.orderBy("seq").toLocalIterator()]
    with tr.span("streaming.sinks.event_to_json_line"):
        for r in rows:
            event_to_json_line(r, include_seq=True)
    render_s = tr.durations("streaming.sinks.event_to_json_line")[-1]
    return {
        "streaming.source.latest_offset_ms": med("latestOffset"),
        "streaming.source.query_planning_ms": med("queryPlanning"),
        "streaming.source.commit_ms": statistics.median(
            [d.get("walCommit", 0) + d.get("commitOffsets", 0) for d in dur])
        if dur else 0.0,
        "streaming.source.batches": len(win),
        "streaming.source.rows_per_batch": statistics.median(
            [p["numInputRows"] for p in win]) if win else 0.0,
        "streaming.source.lag_events_max": max(
            gen_n - st["dispatched"] for gen_n, st in stats_samples),
        "streaming.subscribe.add_batch_ms": med("addBatch"),
        "streaming.subscribe.busy_share": sum(
            d.get("addBatch", 0) for d in dur) / 1000.0 / wall,
        "streaming.subscribe.dispatched": dispatched,
        "streaming.subscribe.deliveries": deliveries,
        "streaming.subscribe.match_ratio": deliveries / max(
            1, dispatched * len(subs)),
        "streaming.subscribe.backlog_max": max(
            v["backlog"] for _n, st in stats_samples
            for v in st["subscribers"].values()),
        "streaming.subscribe.dropped": sum(
            v["dropped"] for v in last["subscribers"].values()),
        "pipeline.handle_events_ms_per_kevent":
            1000.0 * handled_s / (len(rows) / 1000.0),
        "operators.merge_patch.updates": sum(
            1 for r in rows if r["op"] == "UPDATE"),
        "operators.redact.fields_redacted": 0,
        "streaming.sinks.render_us_per_event": 1e6 * render_s / len(rows),
        "streaming.sinks.jsonl_write_ms_per_batch": 1000.0
        * statistics.median(tr.durations("streaming.sinks.jsonl_write")),
        "streaming.wire_http.bytes_delivered": sum(s.bytes for s in subs),
        "streaming.wire_http.client_idle_share":
            sum(s.idle_s for s in subs) / (wall * len(subs)),
    }
