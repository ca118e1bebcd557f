"""CLI daemon entry point (`python -m pqstream_spark`) — flag surface
parity with the reference daemon (/root/reference/cmd/pqsd/main.go:
30-42) over both backends."""

from __future__ import annotations

import json
import os
import sqlite3

import pytest

from pqstream_spark.__main__ import build_parser, main


def test_parser_flag_surface():
    p = build_parser()
    args = p.parse_args(
        ["--connect", "sqlite:/tmp/x.db", "--tables", "notes",
         "--redactions", "{}", "--out", "-", "--remove", "--once"]
    )
    assert args.connect == "sqlite:/tmp/x.db"
    assert args.tables == "notes"
    assert args.remove and args.once


def test_cli_sqlite_backend_end_to_end(spark, tmp_path, capsys):
    # capture was installed by an earlier daemon run; the writes landed
    # in the outbox while no reader ran — the CLI drains them on start
    # (outbox persistence is exactly what upgrades the reference's
    # lossy NOTIFY to at-least-once)
    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    db_path = str(tmp_path / "app.db")
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY, note TEXT, secret TEXT)")
    LocalCaptureManager(conn, table_regexp="notes").install()
    conn.execute("INSERT INTO notes VALUES (1, 'hello', 'hunter2')")
    conn.execute("UPDATE notes SET note = 'world' WHERE id = 1")
    conn.commit()
    conn.close()

    redactions = json.dumps({"main": {"notes": ["secret"]}})
    rc = main(
        ["--connect", f"sqlite:{db_path}", "--tables", "notes",
         "--redactions", redactions, "--out", "-", "--once"]
    )
    assert rc == 0
    lines = [l for l in capsys.readouterr().out.splitlines() if l.strip()]
    events = [json.loads(l) for l in lines]
    assert [e["op"] for e in events] == ["INSERT", "UPDATE"]
    upd = events[1]
    assert upd["payload"]["note"] == "world"
    assert upd["changes"] == {"note": "hello"}  # RFC-7386 NEW->OLD
    assert "secret" not in upd["payload"], "redaction must apply in the CLI path"


def test_cli_remove_exits_without_capture(tmp_path):
    db_path = str(tmp_path / "app.db")
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY)")
    conn.commit()
    conn.close()
    rc = main(["--connect", f"sqlite:{db_path}", "--remove"])
    assert rc == 0
    conn = sqlite3.connect(db_path)
    conn.execute("INSERT INTO notes VALUES (1)")
    conn.commit()
    # --remove never installed anything: no outbox table exists
    with pytest.raises(sqlite3.OperationalError):
        conn.execute("SELECT COUNT(*) FROM pqstream_outbox")
    conn.close()


def test_cli_changelog_dir_backend(spark, tmp_path):
    # stage a small events-shaped parquet dir, drain it via --once
    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stage = str(tmp_path / "stage")
    ev.orderBy("event_id").limit(50).coalesce(1).write.mode("overwrite").parquet(stage)
    import shutil

    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(stage, part), os.path.join(src, "b1.parquet"))

    out = str(tmp_path / "out")
    rc = main(["--connect", src, "--tables", "notes|users", "--out", out, "--once"])
    assert rc == 0
    batches = [f for f in os.listdir(out) if f.endswith(".jsonl")]
    assert batches
    events = []
    for b in batches:
        with open(os.path.join(out, b)) as f:
            events += [json.loads(l) for l in f if l.strip()]
    assert events
    # wire format renders the envelope as schema/table/op/id (K1 parity)
    assert {e["table"] for e in events} <= {"notes", "users"}


def test_cli_bad_connect_is_an_error(tmp_path):
    assert main(["--connect", str(tmp_path / "nope"), "--once"]) == 2


def test_cli_sigint_drains_inflight_batch(spark, tmp_path):
    """Graceful stop must drain work already visible to the source
    before stopping (reference gives shutdown a 10 s budget,
    cmd/pqsd/main.go:113-118): a file dropped just before the stop
    signal still lands complete in the jsonl output."""
    import shutil
    import threading

    from pqstream_spark.__main__ import _run_changelog_dir

    src = str(tmp_path / "src")
    os.makedirs(src)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stage = str(tmp_path / "stage")
    ev.orderBy("event_id").limit(100).coalesce(1).write.mode(
        "overwrite"
    ).parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]

    def events_out(out):
        n = 0
        for b in os.listdir(out):
            if b.endswith(".jsonl"):
                with open(os.path.join(out, b)) as f:
                    n += sum(1 for l in f if l.strip())
        return n

    out = str(tmp_path / "out")
    os.makedirs(out)
    args = build_parser().parse_args(["--connect", src, "--out", out])
    stop = threading.Event()
    t = threading.Thread(target=_run_changelog_dir, args=(args, stop))

    shutil.copy(os.path.join(stage, part), os.path.join(src, "b1.parquet"))
    t.start()
    deadline = 60.0
    import time

    while events_out(out) < 100 and deadline > 0:
        time.sleep(0.25)
        deadline -= 0.25
    assert events_out(out) == 100, "first batch never drained"
    # drop a second file and signal stop IMMEDIATELY: the drain pass
    # must still flush it before the daemon exits
    shutil.copy(os.path.join(stage, part), os.path.join(src, "b2.parquet"))
    stop.set()
    t.join(timeout=120)
    assert not t.is_alive()
    assert events_out(out) == 200


def test_cli_listen_http_serves_wire(spark, tmp_path):
    """--listen-http on the directory backend serves the Listen wire:
    a client subscribed over HTTP receives handled events as NDJSON."""
    import http.client
    import shutil
    import threading
    import time

    import pqstream_spark.__main__ as cli

    src = str(tmp_path / "wsrc")
    out = str(tmp_path / "wout")
    os.makedirs(src)
    os.makedirs(out)
    args = build_parser().parse_args(
        ["--connect", src, "--out", out, "--listen-http", "0"]
    )
    stop = threading.Event()
    t = threading.Thread(target=cli._run_changelog_dir, args=(args, stop))
    t.start()
    deadline = time.time() + 60
    while cli._ACTIVE_WIRE is None and time.time() < deadline:
        time.sleep(0.2)
    assert cli._ACTIVE_WIRE is not None, "wire server never started"
    host, port = cli._ACTIVE_WIRE.server_address[:2]

    got = {}

    def client():
        conn = http.client.HTTPConnection(host, port, timeout=90)
        conn.request("GET", "/listen?tables=users")
        resp = conn.getresponse()
        line = resp.fp.readline()
        got["status"], got["line"] = resp.status, line.decode().strip()
        conn.close()

    ct = threading.Thread(target=client, daemon=True)
    ct.start()
    time.sleep(1.0)
    ev = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    stage = str(tmp_path / "wstage")
    ev.orderBy("event_id").limit(60).coalesce(1).write.mode("overwrite").parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    shutil.copy(os.path.join(stage, part), os.path.join(src, "b1.parquet"))
    ct.join(timeout=120)
    stop.set()
    t.join(timeout=120)
    assert not ct.is_alive() and not t.is_alive()
    assert got["status"] == 200
    assert json.loads(got["line"])["table"] == "users"


def test_cli_replay_from_rejected_on_directory_backend(tmp_path, capsys):
    os.makedirs(tmp_path / "d")
    rc = main(["--connect", str(tmp_path / "d"), "--replay-from", "0"])
    assert rc == 2
    assert "--replay-from" in capsys.readouterr().err


def test_cli_bootstrap_snapshot_then_stream(spark, tmp_path):
    """--bootstrap emits pre-capture rows as synthetic INSERTs before
    the changelog (the CDC bootstrap the reference's NOTIFY-only
    design cannot express), exactly once across restarts."""
    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    db_path = str(tmp_path / "boot.db")
    out = str(tmp_path / "bout")
    os.makedirs(out)
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY, note TEXT)")
    # rows that exist BEFORE capture: invisible to triggers
    for i in range(1, 4):
        conn.execute("INSERT INTO notes VALUES (?, ?)", (i, f"old{i}"))
    conn.commit()
    LocalCaptureManager(conn, table_regexp="notes").install()
    conn.execute("INSERT INTO notes VALUES (4, 'new4')")  # captured
    conn.commit()
    conn.close()

    def all_events(d):
        evs = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".jsonl"):
                with open(os.path.join(d, f)) as fh:
                    evs += [json.loads(l) for l in fh if l.strip()]
        return evs

    base = ["--connect", f"sqlite:{db_path}", "--tables", "notes",
            "--out", out, "--once", "--bootstrap"]
    assert main(base) == 0
    events = all_events(out)
    ids = [e["id"] for e in events if e["op"] == "INSERT"]
    # row 4 is in BOTH the table (snapshot) and the outbox (captured
    # insert) — the switchover must deliver it exactly once: the
    # snapshot covers it and the changelog resumes past it
    assert sorted(ids) == ["1", "2", "3", "4"], ids

    # post-bootstrap writes flow through the changelog as usual
    conn = sqlite3.connect(db_path)
    conn.execute("INSERT INTO notes VALUES (5, 'new5')")
    conn.commit()
    conn.close()
    assert main(base) == 0
    ids2 = [e["id"] for e in all_events(out) if e["op"] == "INSERT"]
    assert sorted(ids2) == ["1", "2", "3", "4", "5"], (
        "bootstrap must not re-run; changelog must continue"
    )


def test_cli_compact_prunes_consumed_outbox(tmp_path):
    """--compact deletes outbox rows below every consumer's durable
    offset — the retention knob for the otherwise append-only outbox."""
    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    db_path = str(tmp_path / "cmp.db")
    out = str(tmp_path / "cout")
    os.makedirs(out)
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY)")
    LocalCaptureManager(conn, table_regexp="notes").install()
    for i in range(1, 6):
        conn.execute("INSERT INTO notes VALUES (?)", (i,))
    conn.commit()

    rc = main(["--connect", f"sqlite:{db_path}", "--tables", "notes",
               "--out", out, "--once", "--compact"])
    assert rc == 0
    n = conn.execute("SELECT COUNT(*) FROM pqstream_outbox").fetchone()[0]
    assert n == 0, f"consumed outbox rows not pruned: {n}"
    conn.close()


def test_cli_independent_consumers_share_outbox(spark, tmp_path):
    """Two consumers with different --consumer names tail the same
    outbox independently (outbox-level fan-out), and --compact prunes
    only below the slowest consumer's offset."""
    from pqstream_spark.sources.outbox_local import LocalCaptureManager

    db_path = str(tmp_path / "mc.db")
    out_a = str(tmp_path / "a")
    out_b = str(tmp_path / "b")
    os.makedirs(out_a)
    os.makedirs(out_b)
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY)")
    LocalCaptureManager(conn, table_regexp="notes").install()
    conn.commit()

    def drained(d):
        evs = []
        for f in sorted(os.listdir(d)):
            if f.endswith(".jsonl"):
                with open(os.path.join(d, f)) as fh:
                    evs += [json.loads(l)["id"] for l in fh if l.strip()]
        return sorted(evs)

    base = ["--connect", f"sqlite:{db_path}", "--tables", "notes", "--once"]
    # register B first, before any writes (a consumer is protected
    # from first CONNECT, Kafka-style retention — attaching after
    # compaction would not be)
    assert main([*base, "--out", out_b, "--consumer", "b"]) == 0
    first_b = drained(out_b)
    assert first_b == []
    for i in range(1, 6):
        conn.execute("INSERT INTO notes VALUES (?)", (i,))
    conn.commit()
    # consumer A drains; compaction must NOT prune (B is behind)
    assert main([*base, "--out", out_a, "--consumer", "a", "--compact"]) == 0
    n = conn.execute("SELECT COUNT(*) FROM pqstream_outbox").fetchone()[0]
    assert n == 5 - len(first_b), "compacted rows consumer b never saw"
    # consumer B catches up independently; now compaction empties
    assert main([*base, "--out", out_b, "--consumer", "b", "--compact"]) == 0
    assert drained(out_b) == drained(out_a) == ["1", "2", "3", "4", "5"]
    n = conn.execute("SELECT COUNT(*) FROM pqstream_outbox").fetchone()[0]
    assert n == 0, "all consumers done: outbox should compact to empty"
    conn.close()


def test_cli_lag_reports_per_consumer_backlog(tmp_path, capsys):
    """--lag: per-consumer backlog JSON without attaching a consumer —
    kinds separate delivery offsets (compaction-relevant) from the
    bootstrap sentinel and stream-reader report floors."""
    from pqstream_spark.sources.outbox_local import (
        LOCAL_OFFSET_TABLE,
        LocalCaptureManager,
    )

    db_path = str(tmp_path / "app.db")
    conn = sqlite3.connect(db_path)
    conn.execute("CREATE TABLE notes (id INTEGER PRIMARY KEY, note TEXT)")
    LocalCaptureManager(conn, table_regexp="notes").install()
    for i in range(5):
        conn.execute(f"INSERT INTO notes VALUES ({i}, 'n{i}')")
    conn.execute(
        f"CREATE TABLE IF NOT EXISTS {LOCAL_OFFSET_TABLE} ("
        "consumer TEXT PRIMARY KEY, last_seq INTEGER NOT NULL)"
    )
    conn.executemany(
        f"INSERT INTO {LOCAL_OFFSET_TABLE} VALUES (?, ?)",
        [("worker", 2), ("daemon#bootstrap", 5), ("ds#reportfloor", 5)],
    )
    conn.commit()
    conn.close()

    rc = main(["--connect", f"sqlite:{db_path}", "--lag"])
    assert rc == 0
    lines = [json.loads(l) for l in
             capsys.readouterr().out.splitlines() if l.strip()]
    by = {l["consumer"]: l for l in lines if "consumer" in l}
    assert by["worker"] == {"consumer": "worker", "kind": "consumer",
                            "last_seq": 2, "max_seq": 5, "lag": 3}
    assert by["daemon#bootstrap"]["kind"] == "bootstrap"
    assert by["ds#reportfloor"]["kind"] == "reportfloor"
    summary = [l for l in lines if l.get("summary")][0]
    assert summary == {"summary": True, "max_seq": 5, "consumers": 1}

    # directory / notify backends have no offsets to measure
    assert main(["--connect", str(tmp_path), "--lag"]) == 2
    assert main(["--connect", "postgres:dbname=x", "--transport",
                 "notify", "--lag"]) == 2


def test_main_restores_signal_handlers(spark, tmp_path):
    """main() takes SIGINT/SIGTERM for its graceful stop and hands the
    caller's handlers back on every return path, so Ctrl-C still works
    for an in-process caller afterwards."""
    import signal

    before = {s: signal.getsignal(s) for s in (signal.SIGINT, signal.SIGTERM)}
    assert main(["--connect", str(tmp_path / "nope"), "--once"]) == 2
    src = str(tmp_path / "empty_src")
    os.makedirs(src)
    assert main(["--connect", src, "--out", str(tmp_path / "o"),
                 "--once"]) == 0
    after = {s: signal.getsignal(s) for s in before}
    assert after == before


def _stage_events(spark, sf_dir, tmp_path, n, offset=0):
    """Path of a one-file parquet with events offset..offset+n-1 (in
    event_id order) of sf_dir."""
    stage = str(tmp_path / f"stage{offset}_{n}")
    ev = spark.read.parquet(os.path.join(sf_dir, "events.parquet"))
    ev.orderBy("event_id").offset(offset).limit(n).coalesce(1) \
      .write.parquet(stage)
    part = [f for f in os.listdir(stage) if f.endswith(".parquet")][0]
    return os.path.join(stage, part)


def _jsonl_lines(out):
    lines = []
    for f in sorted(os.listdir(out)):
        if f.endswith(".jsonl"):
            with open(os.path.join(out, f)) as fh:
                lines += [l.rstrip("\n") for l in fh if l.strip()]
    return lines


@pytest.mark.parametrize("listen", [False, True])
def test_cli_directory_daemon_runs_one_query(spark, sf_dir, tmp_path, listen):
    """The directory daemon is ONE StreamingQuery with or without
    --listen-http: --out rides the Dispatcher's micro-batch instead of
    a second query that lists, plans and handles every batch again.
    With a wire, the --out lines equal a `.*` wire subscriber's lines
    with seq removed."""
    import http.client
    import shutil
    import threading
    import time

    import pqstream_spark.__main__ as cli

    src = str(tmp_path / "src")
    out = str(tmp_path / "out")
    os.makedirs(src)
    part = _stage_events(spark, sf_dir, tmp_path, 120)
    argv = ["--connect", src, "--out", out]
    if listen:
        argv += ["--listen-http", "0"]
    args = build_parser().parse_args(argv)
    before = {q.id for q in spark.streams.active}
    stop = threading.Event()
    t = threading.Thread(target=cli._run_changelog_dir, args=(args, stop))
    t.start()
    try:
        deadline = time.time() + 60
        while time.time() < deadline and not (
            {q.id for q in spark.streams.active} - before
            and (not listen or cli._ACTIVE_WIRE is not None)
        ):
            time.sleep(0.1)
        got = []
        if listen:
            host, port = cli._ACTIVE_WIRE.server_address[:2]
            conn = http.client.HTTPConnection(host, port, timeout=90)
            conn.request("GET", "/listen?tables=.*&with_seq=1")
            resp = conn.getresponse()
            assert resp.status == 200
            while (time.time() < deadline
                   and not cli._ACTIVE_WIRE.dispatcher.subscribers()):
                time.sleep(0.05)
        shutil.copy(part, os.path.join(src, "b1.parquet"))
        if listen:
            got = [resp.fp.readline().decode().rstrip("\n")
                   for _ in range(120)]
            conn.close()
        while time.time() < deadline and len(_jsonl_lines(out)) < 120:
            time.sleep(0.1)
        new = [q for q in spark.streams.active if q.id not in before]
        assert len(new) == 1, [q.name for q in new]
    finally:
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive()
    out_lines = _jsonl_lines(out)
    assert len(out_lines) == 120
    if listen:
        seqs, bare = [], []
        for line in got:
            ev = json.loads(line)
            seqs.append(ev.pop("seq"))
            bare.append(json.dumps(ev, separators=(",", ":")))
        assert seqs == sorted(seqs)
        assert bare == out_lines


def test_cli_directory_daemon_drains_backlog_in_bounded_batches(
        spark, sf_dir, tmp_path, monkeypatch):
    """A cold start over a retained changelog longer than one
    micro-batch drains it DIR_MAX_FILES_PER_TRIGGER files at a time
    (the Dispatcher collects each batch onto the driver, so a backlog
    must not arrive as one batch), and --out is complete: the same
    lines in the same order as one unbounded batch."""
    import shutil

    import pqstream_spark.__main__ as cli

    src = str(tmp_path / "src")
    os.makedirs(src)
    for i in range(5):
        dst = os.path.join(src, f"f{i}.parquet")
        shutil.copy(_stage_events(spark, sf_dir, tmp_path, 30, 30 * i), dst)
        os.utime(dst, (1_700_000_000 + i, 1_700_000_000 + i))  # file order

    def batches(out):
        return [f for f in os.listdir(out) if f.endswith(".jsonl")]

    capped, whole = str(tmp_path / "capped"), str(tmp_path / "whole")
    monkeypatch.setattr(cli, "DIR_MAX_FILES_PER_TRIGGER", 2)
    assert main(["--connect", src, "--out", capped, "--once"]) == 0
    monkeypatch.setattr(cli, "DIR_MAX_FILES_PER_TRIGGER", None)
    assert main(["--connect", src, "--out", whole, "--once"]) == 0
    assert len(batches(capped)) == 3 and len(batches(whole)) == 1
    assert len(_jsonl_lines(whole)) == 150
    assert _jsonl_lines(capped) == _jsonl_lines(whole)


@pytest.mark.parametrize("policy", [None, "drop-oldest"])
def test_cli_stalled_listen_client_and_out(spark, sf_dir, tmp_path, policy):
    """--out shares the directory daemon's one query with the Listen
    clients. A client that never reads, on the default inline policy,
    blocks the dispatch loop once its socket buffers fill: --out still
    gets the batch in flight (the sink runs before the fan-out), but no
    later batch until that client goes away. On a buffered policy the
    same client stalls only its own queue and --out keeps writing."""
    import shutil
    import socket
    import threading
    import time

    import pqstream_spark.__main__ as cli

    with open("/proc/sys/net/ipv4/tcp_wmem") as f:
        if int(f.read().split()[2]) > 6 << 20:
            pytest.skip("send buffers can outgrow the 7 MB this test sends")
    sf = os.path.join(os.path.dirname(sf_dir), "sf0.1")
    # ~7 MB of lines: beyond the stalled socket's receive window plus
    # the largest send buffer loopback autotuning grows (tcp_wmem max,
    # 4 MB by default), so an inline write must block
    n = 50_000
    big = _stage_events(spark, sf, tmp_path, n)
    small = _stage_events(spark, sf, tmp_path, 20, offset=n)
    src, out = str(tmp_path / "src"), str(tmp_path / "out")
    os.makedirs(src)
    args = build_parser().parse_args(
        ["--connect", src, "--out", out, "--listen-http", "0"])
    stop = threading.Event()
    rc = []
    t = threading.Thread(
        target=lambda: rc.append(cli._run_changelog_dir(args, stop)))
    t.start()
    slow = socket.socket(socket.AF_INET, socket.SOCK_STREAM)
    try:
        deadline = time.time() + 60
        while cli._ACTIVE_WIRE is None and time.time() < deadline:
            time.sleep(0.1)
        wire = cli._ACTIVE_WIRE
        assert wire is not None, "wire server never started"
        disp = wire.dispatcher
        # tiny receive window negotiated at connect, then never read
        slow.setsockopt(socket.SOL_SOCKET, socket.SO_RCVBUF, 4096)
        slow.connect(wire.server_address[:2])
        qs = "tables=.*" + (f"&policy={policy}&buffer=4" if policy else "")
        slow.sendall(f"GET /listen?{qs} HTTP/1.1\r\nHost: wire\r\n\r\n"
                     .encode())
        while not disp.subscribers() and time.time() < deadline:
            time.sleep(0.05)
        assert disp.subscribers()

        def wait_lines(n, secs):
            end = time.time() + secs
            while len(_jsonl_lines(out)) < n and time.time() < end:
                time.sleep(0.1)
            return len(_jsonl_lines(out))

        shutil.copy(big, os.path.join(src, "a.parquet"))
        assert wait_lines(n, 180) == n
        shutil.copy(small, os.path.join(src, "b.parquet"))
        if policy is None:
            # the loop sits in a blocked write mid-batch: batch b is
            # visible to the source but never reaches --out
            assert wait_lines(n + 20, 10) == n
            assert disp.dispatched < n
            slow.close()  # the client goes away: its write fails
        assert wait_lines(n + 20, 120) == n + 20
    finally:
        slow.close()
        stop.set()
        t.join(timeout=120)
    assert not t.is_alive() and rc == [0]


def test_cli_directory_daemon_exits_nonzero_when_query_fails(
        spark, sf_dir, tmp_path, monkeypatch):
    """A fan-out query that dies (here: its --out sink raises) ends the
    daemon's wait loop; that is a failure, not a clean stop, so the
    daemon returns 1."""
    import shutil
    import threading

    import pqstream_spark.__main__ as cli

    def boom(rows, epoch):
        raise RuntimeError("sink failed")

    monkeypatch.setattr(cli, "_print_rows", boom)
    src = str(tmp_path / "src")
    os.makedirs(src)
    shutil.copy(_stage_events(spark, sf_dir, tmp_path, 20),
                os.path.join(src, "b1.parquet"))
    args = build_parser().parse_args(["--connect", src, "--out", "-"])
    stop = threading.Event()
    rc = []
    t = threading.Thread(
        target=lambda: rc.append(cli._run_changelog_dir(args, stop)))
    t.start()
    t.join(timeout=120)
    stop.set()
    t.join(timeout=60)
    assert not t.is_alive() and rc == [1]
