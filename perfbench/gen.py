"""Seeded load generator for the keystream benchmark.

A single process that needs pyarrow only (no Spark).  It writes the
input files the system under test streams from, and a JSON-lines log
of what it wrote.  The system receives only the files; the benchmark
joins the log against the query checkpoint after the run.

Modes (one invocation writes one phase):

- ``backlog``: write every file at once, as fast as possible (the
  closed-loop drain input);
- ``live``: write one file per tick on a fixed schedule (open loop).
  File ``k`` is due at ``t0 + k * tick``; its events carry the due
  time as their creation stamp (``approximateArrivalTimestamp``), so
  a late generator or a stalled system both show up as latency.  The
  tables are built before ``t0``, so a tick only stamps, writes and
  renames.

Every file is written under a hidden temporary name and renamed into
place, so the file source never lists a partial file.

Kinds of file:

- ``movies`` / ``narrow``: Kinesis-shaped records (``data`` is the
  JSON record of ``wire_record_schema``, ``sequenceNumber`` is set,
  ``approximateArrivalTimestamp`` is the creation stamp);
- ``docs``: curation documents (``doc_id, text, lang, source,
  n_chars``), a fixed share of them exact re-sends of documents in
  earlier files.

Usage::

    python3 perfbench/gen.py SPEC.json [SPEC.json ...]

writes the specs' files in order; each spec holds ``kind, mode, seed, out_dir, log, files,
events_per_file`` and, for ``live``, ``tick_s``; optional
``first_file`` and ``prefix`` keep file names and sequence numbers
disjoint between phases.
"""

from __future__ import annotations

import bisect
import datetime as dt
import functools
import json
import os
import random
import sys
import time

import pyarrow as pa
import pyarrow.parquet as pq

import stats

#: seconds between building the live tables and the first tick
LEAD_S = 0.2

#: events per file index block: sequence numbers of file k start at
#: k * SEQ_BLOCK, so they are unique and ordered across phases
SEQ_BLOCK = 1_000_000

KINESIS_SCHEMA = pa.schema(
    [
        ("data", pa.binary()),
        ("streamName", pa.string()),
        ("partitionKey", pa.string()),
        ("sequenceNumber", pa.string()),
        ("approximateArrivalTimestamp", pa.timestamp("us", tz="UTC")),
    ]
)

DOCS_SCHEMA = pa.schema(
    [
        ("doc_id", pa.int64()),
        ("text", pa.string()),
        ("lang", pa.string()),
        ("source", pa.string()),
        ("n_chars", pa.int64()),
    ]
)

#: the queue workload's filter, as Spark SQL over the envelope, and
#: the same predicate in Python for the expected count
QUEUE_FILTER = "coalesce(newImage.vote_count, oldImage.vote_count) >= 4000"


def queue_filter_passes(rec: dict) -> bool:
    img = rec.get("newImage") or rec.get("oldImage")
    return img is not None and img["vote_count"] >= 4000


#: (origin, has_new, has_old, weight): every row of the classification
#: truth table, including null origin and the neither-image quirk
OP_MIX = (
    ("USER", True, False, 30),  # INSERT
    ("USER", True, True, 25),  # UPDATE
    ("USER", False, True, 10),  # DELETE
    ("REPLICATION", True, False, 6),  # REPLICATED_INSERT
    ("REPLICATION", True, True, 6),  # REPLICATED_UPDATE
    ("REPLICATION", False, True, 4),  # REPLICATED_DELETE
    ("TTL", False, True, 7),  # TTL
    (None, True, False, 6),  # UNKNOWN
    ("USER", False, False, 6),  # UPDATE (neither image)
)

WORDS = (
    "the a of and stream spark batch table key value row scan merge "
    "join window order query data column filter sort hash part line "
    "customer vector index shard event record sink source state view "
    "fast slow big small group agg commit offset"
).split()

LANGS = ("en", "en", "en", "es", "de", "fr", "zh")


def seq_str(n: int) -> str:
    """Fixed-width so string order is numeric order."""
    return f"{n:021d}"


def _sentence(rng: random.Random, n_words: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(n_words))


def _movie_image(rng: random.Random, title: str) -> dict:
    day = dt.date(1970, 1, 1) + dt.timedelta(days=rng.randrange(20000))
    return {
        "title": title,
        "overview": _sentence(rng, 48)[:300],
        "original_lang": rng.choice(("en", "fr", "es", "ja", "ko")),
        "rel_date": day.isoformat(),
        "popularity": round(rng.uniform(0, 500), 3),
        "vote_count": rng.randrange(10000),
        "vote_average": round(rng.uniform(0, 10), 1),
    }


def _narrow_image(rng: random.Random, title: str) -> dict:
    return {
        "title": title,
        "score": rng.randrange(1_000_000),
        "label": rng.choice(WORDS),
    }


@functools.lru_cache(maxsize=None)
class ZipfKeys:
    """Inverse-CDF Zipf sampler over ``n`` keys with exponent ``s``."""

    def __init__(self, n: int, s: float):
        acc, cdf = 0.0, []
        for r in range(1, n + 1):
            acc += 1.0 / r**s
            cdf.append(acc)
        self.cdf = [c / acc for c in cdf]

    def draw(self, rng: random.Random) -> int:
        return bisect.bisect_left(self.cdf, rng.random())


def cdc_records(spec: dict, file_idx: int, stamp: float | None) -> tuple[pa.Table, dict]:
    """One file of CDC records plus its log entry."""
    rng = random.Random(spec["seed"] * 1_000_003 + file_idx)
    kind = spec["kind"]
    n = spec["events_per_file"]
    weights = [w for *_, w in OP_MIX]
    zipf = ZipfKeys(spec["key_space"], spec["zipf_s"]) if kind == "narrow" else None
    created = dt.datetime.fromtimestamp(
        time.time() if stamp is None else stamp, dt.timezone.utc
    )
    created_iso = created.isoformat().replace("+00:00", "Z")
    rows, passed = [], 0
    seq0 = file_idx * SEQ_BLOCK
    for i in range(n):
        origin, has_new, has_old = rng.choices(OP_MIX, weights)[0][:3]
        if zipf is not None:
            title = f"k{zipf.draw(rng):07d}"
            image = _narrow_image
        else:
            title = f"movie-{rng.randrange(spec['key_space']):07d}"
            image = _movie_image
        seq = seq_str(seq0 + i)
        rec = {
            "eventVersion": "1",
            "createdAt": created_iso,
            "origin": origin,
            "sequenceNumber": seq,
            "newImage": image(rng, title) if has_new else None,
            "oldImage": image(rng, title) if has_old else None,
        }
        if kind == "movies" and queue_filter_passes(rec):
            passed += 1
        rows.append((json.dumps(rec).encode(), seq, title))
    table = pa.table(
        {
            "data": [r[0] for r in rows],
            "streamName": ["media.movies"] * n,
            "partitionKey": [r[2] for r in rows],
            "sequenceNumber": [r[1] for r in rows],
            "approximateArrivalTimestamp": pa.array(
                [created] * n, pa.timestamp("us", tz="UTC")
            ),
        },
        schema=KINESIS_SCHEMA,
    )
    entry = {"events": n, "seq_lo": seq0, "seq_hi": seq0 + n - 1}
    if kind == "movies":
        entry["expected_out"] = passed
    return table, entry


def _doc_text(rng: random.Random) -> str:
    return _sentence(rng, rng.randint(8, 90))


_FRESH: dict[tuple, list[tuple[int, str]]] = {}


def _fresh_docs(spec: dict, file_idx: int) -> list[tuple[int, str]]:
    """The fresh documents of file ``file_idx`` (memoized: re-sends of
    later files draw from them)."""
    key = (spec["seed"], spec["events_per_file"], spec["resend_share"],
           spec.get("first_file", 0), file_idx)
    if key not in _FRESH:
        n_fresh = spec["events_per_file"] - _n_resend(spec, file_idx)
        rng = random.Random(spec["seed"] * 1_000_003 + file_idx)
        docs = []
        for i in range(n_fresh):
            doc_id = file_idx * SEQ_BLOCK + i
            # the id is spelled into the text, so every fresh document
            # is unique whatever words the draw repeats
            docs.append((doc_id, f"{_doc_text(rng)} doc{doc_id}"))
        _FRESH[key] = docs
    return _FRESH[key]


def _n_resend(spec: dict, file_idx: int) -> int:
    if file_idx <= spec.get("first_file", 0):
        return 0
    return int(round(spec["events_per_file"] * spec["resend_share"]))


def docs_records(spec: dict, file_idx: int) -> tuple[pa.Table, dict]:
    """One file of documents: fresh ids with fresh text, plus a share
    of exact re-sends (same id, same text) of documents from earlier
    files of the same run."""
    first = spec.get("first_file", 0)
    rng = random.Random(spec["seed"] * 2_000_003 + file_idx)
    docs = list(_fresh_docs(spec, file_idx))
    resent = []
    for _ in range(_n_resend(spec, file_idx)):
        src = _fresh_docs(spec, rng.randrange(first, file_idx))
        resent.append(src[rng.randrange(len(src))])
    docs += resent
    rng.shuffle(docs)
    table = pa.table(
        {
            "doc_id": [d[0] for d in docs],
            "text": [d[1] for d in docs],
            "lang": [LANGS[d[0] % len(LANGS)] for d in docs],
            "source": [f"src{d[0] % 20}" for d in docs],
            "n_chars": [len(d[1]) for d in docs],
        },
        schema=DOCS_SCHEMA,
    )
    entry = {
        "events": len(docs),
        "fresh_ids": [d[0] for d in _fresh_docs(spec, file_idx)],
        "resent_ids": sorted({d[0] for d in resent}),
        "resends": len(resent),
    }
    return table, entry


def build(spec: dict, file_idx: int, stamp: float | None):
    """One file's table and log entry; ``stamp`` None leaves the
    creation stamp to be set when the file is written."""
    if spec["kind"] == "docs":
        return docs_records(spec, file_idx)
    return cdc_records(spec, file_idx, stamp)


def write_file(table, out_dir: str, name: str) -> None:
    tmp = os.path.join(out_dir, f".{name}.tmp")
    pq.write_table(table, tmp, compression="snappy")
    os.rename(tmp, os.path.join(out_dir, name))


def run(spec: dict) -> None:
    out_dir = spec["out_dir"]
    os.makedirs(out_dir, exist_ok=True)
    first = spec.get("first_file", 0)
    prefix = spec.get("prefix", spec["mode"])
    indexes = range(first, first + spec["files"])
    with open(spec["log"], "a", encoding="utf-8") as log:
        if spec["mode"] == "backlog":
            for k in indexes:
                stamp = time.time()
                table, entry = build(spec, k, stamp)
                name = f"{prefix}-{k:05d}.parquet"
                write_file(table, out_dir, name)
                entry.update(
                    file=name, phase="backlog", due=stamp,
                    written=time.time(), late_ms=0.0,
                )
                log.write(json.dumps(entry) + "\n")
            return
        tick = spec["tick_s"]
        built = [build(spec, k, None) for k in indexes]
        # the schedule starts once every table is built, so a tick
        # only stamps, writes and renames
        t0 = time.time() + LEAD_S
        for (table, entry), k in zip(built, indexes):
            due = t0 + (k - first) * tick
            now = time.time()
            if now < due:
                time.sleep(due - now)
            start = time.time()
            name = f"{prefix}-{k:05d}.parquet"
            write_file(stamped(table, due), out_dir, name)
            entry.update(
                file=name, phase="live", due=due, written=time.time(),
                late_ms=stats.late_ms(due, start),
            )
            log.write(json.dumps(entry) + "\n")
            log.flush()


def stamped(table, stamp: float):
    """Set the creation stamp of every record of a built table."""
    if "approximateArrivalTimestamp" not in table.column_names:
        return table
    i = table.column_names.index("approximateArrivalTimestamp")
    created = dt.datetime.fromtimestamp(stamp, dt.timezone.utc)
    return table.set_column(
        i,
        KINESIS_SCHEMA.field(i),
        pa.array([created] * table.num_rows, pa.timestamp("us", tz="UTC")),
    )


def main(argv: list[str]) -> int:
    if len(argv) < 2:
        print("usage: gen.py SPEC.json [SPEC.json ...]", file=sys.stderr)
        return 2
    for path in argv[1:]:
        with open(path, encoding="utf-8") as fh:
            run(json.load(fh))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
