"""Seeded input generators and the expected outputs computed from them.

Everything here is derived from `--seed` alone. The expected lines are
rendered by this module from the generator's own records, without
calling the program under test: the wire layout is the pqs CLI's jsonpb
rendering (top-level fields in proto order: seq when requested, schema,
table, op, id, payload, changes; empty fields omitted; object keys
sorted; compact separators, ASCII escapes).
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re

TABLES = ("users", "notes", "orders")


def render(obj: dict) -> str:
    return json.dumps(obj, separators=(",", ":"))


def wire_line(seq: int | None, schema: str, table: str, op: str, id_: str,
              payload: dict, changes: dict | None) -> str:
    out: dict = {}
    if seq is not None:
        out["seq"] = seq
    out.update(schema=schema, table=table, op=op, id=id_)
    out["payload"] = {k: payload[k] for k in sorted(payload)}
    if changes is not None:
        out["changes"] = {k: changes[k] for k in sorted(changes)}
    return render(out)


def patch_new_to_old(new: dict, old: dict) -> dict:
    """RFC-7386 patch that turns the new row into the old one: the old
    value of every field that changed, null for fields the update
    added (flat rows)."""
    out = {k: v for k, v in old.items() if k not in new or new[k] != v}
    out.update({k: None for k in new if k not in old})
    return out


def _mix(rng: random.Random, lo: float, hi: float) -> list[float]:
    """Three table weights, the heaviest share drawn from [lo, hi]."""
    top = rng.uniform(lo, hi)
    rest = rng.uniform(0.25, 0.75)
    w = [top, (1 - top) * rest, (1 - top) * (1 - rest)]
    rng.shuffle(w)
    return w


# --- live_fanout: events-schema parquet files in a changelog directory ---

EVENT_TYPES_INSERT = ("signup", "purchase")
EVENT_TYPES_UPDATE = ("click", "view")


class EventGen:
    """Events for the changelog-directory source.

    The seed varies the table skew (which drives each subscriber's
    match ratio) and the UPDATE share (which drives merge-patch work).
    The daemon maps each event to a change by the rules of
    pqstream_spark/sources/changelog.py; `expected_line` applies the same
    rules here, independently."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed * 7919 + 1)
        self.table_w = _mix(self.rng, 0.4, 0.6)
        self.update_share = self.rng.uniform(0.4, 0.6)
        self.delete_share = 0.1
        self.next_seq = 1

    def params(self) -> dict:
        return {"table_weights": dict(zip(TABLES, self.table_w)),
                "update_share": self.update_share,
                "delete_share": self.delete_share}

    def events(self, n: int) -> list[dict]:
        rng, out = self.rng, []
        for _ in range(n):
            t = rng.choices(range(3), self.table_w)[0]
            u = rng.random()
            if u < self.update_share:
                et = rng.choice(EVENT_TYPES_UPDATE)
            elif u < self.update_share + self.delete_share:
                et = "error"
            else:
                et = rng.choice(EVENT_TYPES_INSERT)
            out.append({
                "event_id": self.next_seq,
                "user_id": 3 * rng.randrange(1, 50_000) + t,
                "event_type": et,
                "cents": rng.randrange(0, 10_000_000),
                "k": rng.randrange(0, 1_000_000),
            })
            self.next_seq += 1
        return out


def write_events_parquet(events: list[dict], path: str, ts_us: int) -> None:
    """Write one changelog file atomically: a hidden temp name the file
    source skips, then a rename."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(events)
    table = pa.table({
        "event_id": pa.array([e["event_id"] for e in events], pa.int64()),
        "ts": pa.array([ts_us] * n, pa.timestamp("us")),
        "user_id": pa.array([e["user_id"] for e in events], pa.int64()),
        "event_type": pa.array([e["event_type"] for e in events], pa.string()),
        "value": pa.array([e["cents"] / 100.0 for e in events], pa.float64()),
        "props": pa.array([render({"k": e["k"]}) for e in events], pa.string()),
    })
    d, base = os.path.split(path)
    tmp = os.path.join(d, "." + base + ".tmp")
    pq.write_table(table, tmp)
    os.rename(tmp, path)


def _money(cents: int) -> str:
    return f"{cents // 100}.{cents % 100:02d}"


def event_table(e: dict) -> str:
    return TABLES[e["user_id"] % 3]


def expected_event_line(e: dict, with_seq: bool) -> str:
    k, uid = e["k"], str(e["user_id"])
    new = {"id": uid, "note": f"note-{k}", "val": _money(e["cents"])}
    if e["event_type"] in EVENT_TYPES_INSERT:
        op, changes = "INSERT", None
    elif e["event_type"] in EVENT_TYPES_UPDATE:
        op = "UPDATE"
        old = {
            "id": uid,
            "note": new["note"] if k % 3 == 0 else f"note-{k + 1}",
            "val": _money(e["cents"] + 100) if k % 2 == 0 else new["val"],
        }
        changes = patch_new_to_old(new, old)
    else:
        op, changes = "DELETE", None
    return wire_line(e["event_id"] if with_seq else None, "public",
                     event_table(e), op, uid, new, changes)


# --- capture_drain: a change backlog committed into sqlite ---

CAPTURE_DDL = (
    "CREATE TABLE users (id INTEGER PRIMARY KEY, name TEXT, email TEXT,"
    " plan TEXT, score INTEGER)",
    "CREATE TABLE notes (id INTEGER PRIMARY KEY, user_id INTEGER,"
    " title TEXT, body TEXT, version INTEGER)",
    "CREATE TABLE orders (id INTEGER PRIMARY KEY, user_id INTEGER,"
    " status TEXT, amount_cents INTEGER, memo TEXT)",
)
CAPTURE_COLUMNS = {
    "users": ("id", "name", "email", "plan", "score"),
    "notes": ("id", "user_id", "title", "body", "version"),
    "orders": ("id", "user_id", "status", "amount_cents", "memo"),
}
REDACT_TABLE, REDACT_FIELD = "users", "email"
REDACTIONS = {"main": {REDACT_TABLE: [REDACT_FIELD]}}
WIDE_CHARS = 4000
_WORDS = ("alpha", "bravo", "delta", "echo", "kilo", "lima", "oscar",
          "romeo", "tango", "zulu", "quartz", "ember", "fjord", "gale")


class ChangeGen:
    """A seeded INSERT/UPDATE/DELETE backlog over three tables.

    The seed varies the table skew, the UPDATE share (merge-patch work)
    and the share of ~4 KB wide rows (bytes per change, near the
    reference's 8,000-byte NOTIFY cap). One statement changes one row,
    so the outbox holds exactly one change per statement, in order."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed * 104729 + 7)
        self.table_w = _mix(self.rng, 0.4, 0.55)
        self.update_share = self.rng.uniform(0.35, 0.5)
        self.delete_share = 0.1
        self.wide_share = self.rng.uniform(0.1, 0.2)
        self.rows: dict[str, dict[int, dict]] = {t: {} for t in TABLES}
        self.ids: dict[str, list[int]] = {t: [] for t in TABLES}
        self.next_id = {t: 1 for t in TABLES}

    def params(self) -> dict:
        return {"table_weights": dict(zip(TABLES, self.table_w)),
                "update_share": self.update_share,
                "delete_share": self.delete_share,
                "wide_share": self.wide_share}

    def _text(self, wide: bool) -> str:
        rng = self.rng
        if not wide:
            return " ".join(rng.choice(_WORDS) for _ in range(rng.randrange(2, 8)))
        words, n = [], 0
        while n < WIDE_CHARS:
            w = rng.choice(_WORDS)
            words.append(w)
            n += len(w) + 1
        return " ".join(words)

    def _row(self, table: str, id_: int) -> dict:
        rng = self.rng
        wide = rng.random() < self.wide_share
        if table == "users":
            return {"id": id_, "name": f"user {id_}",
                    "email": f"u{id_}@example.test",
                    "plan": rng.choice(("free", "pro", "team")),
                    "score": rng.randrange(0, 1000)}
        if table == "notes":
            return {"id": id_, "user_id": rng.randrange(1, 5000),
                    "title": self._text(False), "body": self._text(wide),
                    "version": 1}
        return {"id": id_, "user_id": rng.randrange(1, 5000),
                "status": rng.choice(("new", "paid", "shipped")),
                "amount_cents": rng.randrange(100, 1_000_000),
                "memo": self._text(wide)}

    def _update(self, table: str, row: dict) -> dict:
        rng, new = self.rng, dict(row)
        if table == "users":
            new["score"] = row["score"] + rng.randrange(1, 50)
            if rng.random() < 0.5:
                new["plan"] = rng.choice(("free", "pro", "team"))
        elif table == "notes":
            new["version"] = row["version"] + 1
            if rng.random() < 0.5:
                new["body"] = self._text(rng.random() < self.wide_share)
        else:
            new["status"] = rng.choice(("paid", "shipped", "refunded"))
            if rng.random() < 0.3:
                new["amount_cents"] = rng.randrange(100, 1_000_000)
        return new

    def changes(self, n: int) -> list[tuple]:
        """n changes as (table, op, sql, params, new_row, old_row)."""
        rng, out = self.rng, []
        for _ in range(n):
            t = TABLES[rng.choices(range(3), self.table_w)[0]]
            live, ids = self.rows[t], self.ids[t]
            u = rng.random()
            if ids and u < self.update_share:
                id_ = ids[rng.randrange(len(ids))]
                old = live[id_]
                new = self._update(t, old)
                live[id_] = new
                cols = CAPTURE_COLUMNS[t][1:]
                sql = (f'UPDATE "{t}" SET '
                       + ", ".join(f'"{c}" = ?' for c in cols)
                       + " WHERE id = ?")
                out.append((t, "UPDATE", sql,
                            [new[c] for c in cols] + [id_], new, old))
            elif ids and u < self.update_share + self.delete_share:
                # swap-remove a random live id
                i = rng.randrange(len(ids))
                id_ = ids[i]
                ids[i] = ids[-1]
                ids.pop()
                old = live.pop(id_)
                out.append((t, "DELETE", f'DELETE FROM "{t}" WHERE id = ?',
                            [id_], None, old))
            else:
                id_ = self.next_id[t]
                self.next_id[t] += 1
                new = self._row(t, id_)
                live[id_] = new
                ids.append(id_)
                cols = CAPTURE_COLUMNS[t]
                sql = (f'INSERT INTO "{t}" ('
                       + ", ".join(f'"{c}"' for c in cols) + ") VALUES ("
                       + ", ".join("?" for _ in cols) + ")")
                out.append((t, "INSERT", sql, [new[c] for c in cols],
                            new, None))
        return out


def _redact(row: dict) -> dict:
    # a redacted table's JSON is re-rendered from the string map the
    # redaction operates on, so surviving values become strings
    return {k: (None if v is None else str(v)) for k, v in row.items()
            if k != REDACT_FIELD}


def expected_change_line(table: str, op: str, new: dict | None,
                         old: dict | None) -> str:
    if table == REDACT_TABLE:
        new = _redact(new) if new is not None else None
        old = _redact(old) if old is not None else None
    row = old if op == "DELETE" else new
    changes = patch_new_to_old(new, old) if op == "UPDATE" else None
    return wire_line(None, "main", table, op, str(row["id"]), row, changes)


# --- curate_corpus: documents with planted exact and near duplicates ---

STOP = ("the", "a", "and", "of", "is")


class CorpusGen:
    """A document corpus with planted duplicates.

    The seed varies the near-duplicate density (which drives the LSH
    verify yield) and the exact-duplicate share. Near duplicates edit a
    few words of an earlier document; exact duplicates copy it. Ids are
    shuffled so planting order does not follow id order."""

    def __init__(self, seed: int) -> None:
        self.rng = random.Random(seed * 15485863 + 3)
        self.near_share = self.rng.uniform(0.08, 0.16)
        self.exact_share = self.rng.uniform(0.03, 0.05)
        letters = "abcdefghijklmnopqrstuvwxyz"
        vocab = set()
        while len(vocab) < 3000:
            vocab.add("".join(self.rng.choice(letters)
                              for _ in range(self.rng.randrange(3, 10))))
        self.vocab = sorted(vocab)

    def params(self) -> dict:
        return {"near_share": self.near_share,
                "exact_share": self.exact_share}

    def _doc(self) -> list[str]:
        rng = self.rng
        return [rng.choice(STOP) if rng.random() < 0.3 else rng.choice(self.vocab)
                for _ in range(rng.randrange(40, 160))]

    def corpus(self, n: int) -> list[tuple[int, str]]:
        """n (doc_id, text) rows; texts are already normalized (lower
        case, single spaces)."""
        rng = self.rng
        ids = list(range(1, n + 1))
        rng.shuffle(ids)
        texts: list[str] = []
        for _ in range(n):
            u = rng.random()
            if texts and u < self.exact_share:
                texts.append(texts[rng.randrange(len(texts))])
            elif texts and u < self.exact_share + self.near_share:
                words = texts[rng.randrange(len(texts))].split(" ")
                for _ in range(max(1, len(words) // 25)):
                    words[rng.randrange(len(words))] = rng.choice(self.vocab)
                texts.append(" ".join(words))
            else:
                texts.append(" ".join(self._doc()))
        return list(zip(ids, texts))


# The curation rules the expected admitted set follows, restated from
# the documented behaviour of `curate --near-dedup`: a document is
# admitted when it has at least 10 tokens and quality
# 0.5 * stop-word share + 0.5 * min(tokens / 100, 1) >= 0.3, it has the
# smallest id among the documents with its token sequence, and it has
# the smallest id of its near-duplicate cluster. Clusters are the
# connected components of the candidate pairs (two documents sharing a
# MinHash-LSH band bucket of 2 to LSH_BUCKET_CAP members) whose
# word-3-shingle Jaccard is at least NEAR_JACCARD. The MinHash: md5 of
# each shingle, hash j the minimum of hex digits 4j..4j+3 over the
# shingles, band b the pair of hashes 2b and 2b+1. Language mixing and
# the classifier margin admit every generated document (English stop
# words only, 40 tokens or more), so they do not enter.
MIN_TOKENS, MIN_QUALITY = 10, 0.3
LSH_BUCKET_CAP = 50
NEAR_JACCARD = 0.5


def _tokens(text: str) -> list[str]:
    return [t for t in re.sub(r"[^a-z0-9 ]", " ", text.lower()).split(" ")
            if t]


def _band_keys(shingles: dict[int, list[str]]) -> dict[int, list[int]]:
    import numpy as np

    ids = [i for i, sh in shingles.items() if sh]
    starts, n = [], 0
    for i in ids:
        starts.append(n)
        n += len(shingles[i])
    digests = b"".join(hashlib.md5(s.encode()).digest()
                       for i in ids for s in shingles[i])
    # the eight 16-bit slices of each digest, big-endian, one row each
    mins = np.minimum.reduceat(
        np.frombuffer(digests, dtype=">u2").reshape(-1, 8),
        np.array(starts, dtype=np.int64), axis=0).astype(np.int64)
    return {i: [int(m[2 * b]) * 65536 + int(m[2 * b + 1]) for b in range(4)]
            for i, m in zip(ids, mins)}


def expected_admitted(rows: list[tuple[int, str]]) -> tuple[set[int], dict]:
    """The doc_ids the curation rules above admit, and how many
    documents each rule rejected."""
    toks = {i: _tokens(t) for i, t in rows}
    first: dict[tuple, int] = {}
    for i in sorted(toks):
        first.setdefault(tuple(toks[i]), i)

    def quality_ok(tok: list[str]) -> bool:
        n = len(tok)
        stop = sum(1 for t in tok if t in STOP)
        return (n >= MIN_TOKENS
                and 0.5 * stop / n + 0.5 * min(n / 100.0, 1.0) >= MIN_QUALITY)

    shingles = {i: [" ".join(tok[k:k + 3]) for k in range(len(tok) - 2)]
                for i, tok in toks.items()}
    buckets: dict[tuple[int, int], list[int]] = {}
    for i, keys in _band_keys(shingles).items():
        for b, key in enumerate(keys):
            buckets.setdefault((b, key), []).append(i)
    label = {i: i for i in toks}

    def find(i: int) -> int:
        while label[i] != i:
            label[i] = label[label[i]]
            i = label[i]
        return i

    sets = {i: set(sh) for i, sh in shingles.items()}
    seen: set[tuple[int, int]] = set()
    verified = 0
    for members in buckets.values():
        if not 2 <= len(members) <= LSH_BUCKET_CAP:
            continue
        members.sort()
        for x, a in enumerate(members):
            for b in members[x + 1:]:
                if (a, b) in seen:
                    continue
                seen.add((a, b))
                both = len(sets[a] & sets[b])
                if both / (len(sets[a]) + len(sets[b]) - both) >= NEAR_JACCARD:
                    verified += 1
                    ra, rb = find(a), find(b)
                    label[max(ra, rb)] = min(ra, rb)
    admitted, counts = set(), {"quality_or_exact_dup": 0, "near_dup": 0}
    for i, tok in toks.items():
        if not quality_ok(tok) or first[tuple(tok)] != i:
            counts["quality_or_exact_dup"] += 1
        elif find(i) != i:
            counts["near_dup"] += 1
        else:
            admitted.add(i)
    counts.update(candidate_pairs=len(seen), verified_pairs=verified)
    return admitted, counts
