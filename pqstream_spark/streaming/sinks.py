"""K1/K2/F3 — sinks (SURVEY.md §2.1).

K1 (stdout one-JSON-per-line, `/root/reference/cmd/pqs/main.go:66-76`)
becomes a foreachBatch writer emitting JSON-lines files in `seq` order;
K2 (STOMP forwarder, `contrib/cmd/pqsamq/main.go:69-94`) and the gRPC
bridge (F3) are `foreach`-style callback sinks — the transport client
is injected, and import-gated stubs stand in for libraries this
container doesn't ship (stomp.py / grpcio).
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def _sorted_obj(v):
    """Recursively sort object keys — jsonpb marshals protobuf Struct
    maps in sorted key order (README.md:55-58 transcript)."""
    if isinstance(v, dict):
        return {k: _sorted_obj(v[k]) for k in sorted(v)}
    if isinstance(v, list):
        return [_sorted_obj(x) for x in v]
    return v


def event_to_json_line(row: dict, include_seq: bool = False) -> str:
    """Render one Event the way the pqs CLI prints it
    (/root/reference/cmd/pqs/main.go:66-76 jsonpb): top-level fields in
    proto field order (pqstream.proto:37-47 — schema, table, op, id,
    payload, changes), empty fields omitted, Struct keys sorted.

    payload/changes come from the exact-JSON projections when present
    (payload_json / changes_json) so numbers stay numbers and nulls
    stay nulls — the map<string,string> fallback loses JSON types.

    include_seq=True prepends the outbox seq — NOT part of the
    reference wire format (its proto has no cursor field, which is WHY
    its clients cannot resume); opt-in via /listen?with_seq=1 so a
    resuming consumer can learn the from_seq to reconnect with, while
    the default stays byte-parity."""
    out: dict = {}
    if include_seq and row.get("seq") is not None:
        out["seq"] = row["seq"]
    if row.get("schema_name"):
        out["schema"] = row["schema_name"]
    if row.get("table_name"):
        out["table"] = row["table_name"]
    if row.get("op"):
        out["op"] = row["op"]
    if row.get("id") is not None:
        out["id"] = row["id"]
    for key, json_col, map_col in (
        ("payload", "payload_json", "payload"),
        ("changes", "changes_json", "changes"),
    ):
        if row.get(json_col) is not None:
            out[key] = _sorted_obj(json.loads(row[json_col]))
        elif row.get(map_col) is not None:
            out[key] = _sorted_obj(dict(row[map_col]))
    return json.dumps(out, separators=(",", ":"))


def collect_sorted(batch_df: DataFrame) -> list[dict]:
    """One micro-batch as `Row.asDict()` dicts in `seq` order: a single
    collect() (one Spark job) and a sort on the driver.

    `orderBy("seq").toLocalIterator()` cost a range-partition sample
    job, a shuffle and a result job per batch, and the typed-wire UDF
    (operators/merge_patch.py) ran in both the sample and the
    shuffle-map stage. The trade-off: driver memory is bounded by one
    micro-batch, not by one post-sort partition. Under the session's
    size-first AQE coalescing (64 MB) a small batch was already a
    single partition, so live batches hold what they held before."""
    return sorted((r.asDict() for r in batch_df.collect()), key=lambda d: d["seq"])


def jsonl_rows_writer(out_dir: str) -> Callable[[list[dict], int], None]:
    """Sink for already-collected, seq-ordered rows: one
    `batch-{epoch:08d}.jsonl` per non-empty micro-batch. Written to a
    .tmp then renamed: a SIGKILL mid-batch leaves only tmp junk
    (readers match *.jsonl), and the checkpoint's re-run of the same
    epoch rewrites the same final name — the idempotent-sink half of
    the exactly-once contract."""
    os.makedirs(out_dir, exist_ok=True)

    def write(rows: list[dict], epoch_id: int) -> None:
        if not rows:
            return
        path = os.path.join(out_dir, f"batch-{epoch_id:08d}.jsonl")
        tmp = path + ".tmp"
        with open(tmp, "w") as f:
            f.writelines(event_to_json_line(r) + "\n" for r in rows)
        os.replace(tmp, path)

    return write


def jsonl_dir_writer(out_dir: str) -> Callable[[DataFrame, int], None]:
    """foreachBatch sink: one .jsonl file per micro-batch, rows in seq
    order (collect_sorted — the driver holds one micro-batch)."""
    write_rows = jsonl_rows_writer(out_dir)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        write_rows(collect_sorted(batch_df), epoch_id)

    return write


def jsonl_seq_writer(
    out_dir: str, prefix: str = "batch"
) -> Callable[[DataFrame, int], None]:
    """Like jsonl_dir_writer, but names each file by the batch's seq
    range (`batch-{lo}-{hi}.jsonl`) instead of the epoch id.

    For the polling (non-Structured-Streaming) daemon path the epoch
    counter restarts at 0 on every process start, so epoch names would
    collide across restarts and overwrite earlier output. Seq ranges
    are stable under replay: a crashed-then-replayed batch rewrites the
    SAME file (idempotent), and new batches can never collide with old
    ones. Combined with the durable consumer offset
    (sources/outbox_local.py LocalOutboxPoller.open_durable) this gives
    at-least-once transport + idempotent sink = exactly-once effect —
    the upgrade over the reference's lossy fire-and-forget NOTIFY
    delivery (server.go:249-315 has no redelivery at all).

    `prefix` keys the file namespace: the NOTIFY transport's synthetic
    seqs restart at 1 per listener session, so it passes a per-run
    nonce prefix — restart collisions would otherwise overwrite
    earlier output (durable-outbox runs keep the default, where
    identical names ARE the idempotency)."""
    os.makedirs(out_dir, exist_ok=True)

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        tmp = os.path.join(out_dir, f".inflight-{prefix}-{epoch_id}.tmp")
        lo = hi = None
        with open(tmp, "w") as f:
            for r in batch_df.orderBy("seq").toLocalIterator():
                d = r.asDict()
                if lo is None:
                    lo = d["seq"]
                hi = d["seq"]
                f.write(event_to_json_line(d) + "\n")
        if lo is None:
            os.remove(tmp)
            return
        os.replace(
            tmp,
            os.path.join(out_dir, f"{prefix}-{lo:012d}-{hi:012d}.jsonl"),
        )

    return write


def callback_sink(cb: Callable[[dict], bool]) -> Callable[[DataFrame, int], None]:
    """F3-style bridge: invoke a callback per event (in seq order).
    Returning False unsubscribes logically — parity with
    subscription.fn (server.go:30-33); here it just stops forwarding
    the rest of the batch."""

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        for r in batch_df.orderBy("seq").toLocalIterator():
            if not cb(r.asDict()):
                break

    return write


class StompForwarder:
    """K2 parity (pqsamq, contrib/cmd/pqsamq/main.go:68-87): forward
    each event as a STOMP SEND. Default transport is the stdlib-socket
    STOMP 1.2 client (streaming/stomp_wire.py — real wire framing,
    interoperable with ActiveMQ/RabbitMQ); any object exposing
    .send(destination, body) can be injected instead."""

    def __init__(self, queue: str, client=None, addr: str | None = None):
        self.queue = queue
        if client is None:
            from .stomp_wire import StompClient

            # Port is only split off for "host:1234" (exactly one colon)
            # or bracketed IPv6 "[::1]:1234" — a bare IPv6 literal like
            # "::1" must NOT be parsed as host "::" + port "1".
            a = addr or "localhost:61613"
            host, port = a, "61613"
            hp, sep, p = a.rpartition(":")
            if sep and p.isdigit() and (hp.endswith("]") or a.count(":") == 1):
                host, port = hp, p
            client = StompClient(host.strip("[]"), int(port))
        self.client = client

    def foreach_batch(self) -> Callable[[DataFrame, int], None]:
        def write(batch_df: DataFrame, epoch_id: int) -> None:
            for r in batch_df.orderBy("seq").toLocalIterator():
                self.client.send(self.queue, event_to_json_line(r.asDict()))

        return write


def upsert_parquet_sink(
    out_dir: str, keys: list[str], n_buckets: int = 16
) -> Callable[[DataFrame, int], None]:
    """Streaming materialized view: merge each update-mode micro-batch
    into a parquet table by key (rows in the batch REPLACE rows with the
    same key — update-mode aggregates are cumulative, so last write
    wins).

    The table is laid out as `kbucket=N/` hash partitions of the key
    (partition column `kbucket = hash(keys) mod n_buckets`), and a batch
    rewrites ONLY the buckets its keys fall in — untouched partitions'
    files are never read or rewritten, so per-batch cost tracks batch
    key-spread, not table size. One Spark job merges all touched buckets
    (old partitions ∪ batch, anti-joined by key) into a temp dir; each
    bucket then swaps in via rename old→aside, rename new→in, delete
    aside — the unrecoverable window is a single atomic rename per
    bucket, a concurrent reader always sees the bucket present, and a
    crash leaves at worst one bucket aside (recovered on next batch by
    preferring the live dir). Epoch replay after a partial swap is
    idempotent: re-merging the same batch against either the old or the
    new bucket contents yields the same rows. At production scale the
    swap becomes a Delta/Iceberg MERGE and the layout its file pruning;
    the dataflow is identical.
    """
    import shutil

    def _bucket_dir(b: int) -> str:
        return os.path.join(out_dir, f"kbucket={b}")

    def write(batch_df: DataFrame, epoch_id: int) -> None:
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        kb = F.pmod(F.xxhash64(*[F.col(k) for k in keys]), F.lit(n_buckets)).cast(
            "int"
        )
        # localCheckpoint: detach from the stream plan AND pin the batch
        # (it is scanned twice: bucket list + merge)
        batch = batch_df.withColumn("kbucket", kb).localCheckpoint()
        touched = sorted(r["kbucket"] for r in batch.select("kbucket").distinct().collect())
        os.makedirs(out_dir, exist_ok=True)

        existing = [b for b in touched if os.path.isdir(_bucket_dir(b))]
        if existing:
            old = (
                spark.read.option("basePath", out_dir)
                .parquet(*[_bucket_dir(b) for b in existing])
                .withColumn("kbucket", F.col("kbucket").cast("int"))
            )
            merged = old.join(batch.select(*keys), keys, "left_anti").unionByName(
                batch
            )
        else:
            merged = batch
        tmp_root = out_dir.rstrip("/") + f".tmp-{epoch_id}"
        merged.write.mode("overwrite").partitionBy("kbucket").parquet(tmp_root)
        for b in touched:
            live, fresh = _bucket_dir(b), os.path.join(tmp_root, f"kbucket={b}")
            if not os.path.isdir(fresh):
                continue  # bucket keyed entirely by anti-joined rows
            if os.path.isdir(live):
                # aside dir sits OUTSIDE the table root: if a crash
                # strands it, partition discovery over out_dir never
                # sees a malformed `kbucket=N.old-…` entry
                aside = out_dir.rstrip("/") + f".aside-{epoch_id}-{b}"
                os.rename(live, aside)
                os.rename(fresh, live)
                shutil.rmtree(aside)
            else:
                os.rename(fresh, live)
        shutil.rmtree(tmp_root, ignore_errors=True)

    return write


def kafka_writer(df: DataFrame, topic: str, servers: str):
    """Idiomatic K2/F3 replacement at scale: key by table for per-table
    order, value = JSON event. Needs the spark-sql-kafka package on the
    classpath (not in this container — plan-only here)."""
    out = df.select(
        F.col("table_name").cast("string").alias("key"),
        F.to_json(F.struct(*[F.col(c) for c in df.columns])).alias("value"),
    )
    return (
        out.writeStream.format("kafka")
        .option("kafka.bootstrap.servers", servers)
        .option("topic", topic)
    )
