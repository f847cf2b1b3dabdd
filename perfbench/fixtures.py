"""Seeded input generators for the ingest benchmark.

Everything here is a pure function of the seed and the workload shape, so
the same seed always gives byte-identical inputs (checked by
``tree_hash`` and the self-tests). The program under test only ever
sees the files written here.

File sizes are log-normal, drawn by stratified quantiles and then
shuffled: every seed gets the same multiset of sizes (so throughput
figures from different seeds are comparable) while names, order and
content change with the seed.
"""

import hashlib
import math
import os
import random
import statistics
from datetime import date, datetime, timedelta, timezone

PREFIX = "data/audit/"  # --s3-prefix; concatenated to the day without a separator
FIRST_DAY = date(2024, 3, 1)

# ---------------------------------------------------------------- content


def lognormal_sizes(n, median, sigma, rng):
    """n sizes from a log-normal around `median` bytes, by stratified
    quantiles (identical multiset for every seed), in seeded order."""
    nd = statistics.NormalDist()
    mu = math.log(median)
    sizes = [max(1, int(math.exp(mu + sigma * nd.inv_cdf((i + 0.5) / n)))) for i in range(n)]
    rng.shuffle(sizes)
    return sizes


_ACTIONS = ["GET", "PUT", "DELETE", "LIST", "LOGIN", "LOGOUT", "GRANT", "REVOKE"]
_OUTCOMES = ["ALLOW", "DENY", "ERROR"]


def audit_corpus(rng, nbytes):
    """JSON-lines audit text of at least `nbytes`, seeded. Field values
    repeat the way real audit logs do (a few thousand users and paths), so
    zlib finds realistic redundancy."""
    users = [f"user{rng.randrange(10**6):06d}" for _ in range(2000)]
    paths = [
        "/".join(["", rng.choice(["hdfs", "s3", "hive", "hbase"])] + [f"p{rng.randrange(5000)}" for _ in range(3)])
        for _ in range(3000)
    ]
    ts = 1709251200000
    lines = []
    total = 0
    while total < nbytes:
        ts += rng.randrange(1, 2000)
        line = (
            f'{{"ts":{ts},"user":"{rng.choice(users)}","action":"{rng.choice(_ACTIONS)}",'
            f'"resource":"{rng.choice(paths)}","outcome":"{rng.choice(_OUTCOMES)}",'
            f'"session":"{rng.getrandbits(64):016x}","bytes":{rng.randrange(1 << 20)}}}\n'
        ).encode()
        lines.append(line)
        total += len(line)
    return b"".join(lines)


def slice_of(corpus, size, rng):
    if size == 0:
        return b""
    if size <= len(corpus):
        off = rng.randrange(len(corpus) - size + 1)
        return corpus[off:off + size]
    reps = size // len(corpus) + 1
    return (corpus * reps)[:size]


# ------------------------------------------------------------ day layouts


def write_days(root, seed, days, files_per_day, median, sigma, nested_per_day, empties):
    """Dated day directories under `root` in the reference's layout.

    Each day holds `files_per_day` files including a `nested/`
    subdirectory whose files reuse top-level basenames (keys must keep the
    sub-path so they never collide); `empties` files in all are zero
    length. The root also holds one non-dated directory that ingest must
    skip.

    Returns the expected manifest: {object key: (sha256 hex, length)}.
    """
    rng = random.Random(f"days:{seed}")
    sizes = lognormal_sizes(files_per_day * days - empties, median, sigma, rng)
    corpus = audit_corpus(rng, max(1 << 20, int(max(sizes) * 1.5)))
    empty = set(rng.sample(range(files_per_day * days), empties))
    expected = {}
    os.makedirs(root, exist_ok=True)
    for d in range(days):
        day = (FIRST_DAY + timedelta(days=d)).isoformat()
        ddir = os.path.join(root, day)
        os.makedirs(os.path.join(ddir, "nested"), exist_ok=True)
        names = [f"audit-{rng.getrandbits(40):010x}.json" for _ in range(files_per_day - nested_per_day)]
        rels = names + [f"nested/{n}" for n in rng.sample(names, nested_per_day)]
        for i, rel in enumerate(rels):
            data = b"" if d * files_per_day + i in empty else slice_of(corpus, sizes.pop(), rng)
            with open(os.path.join(ddir, rel), "wb") as f:
                f.write(data)
            expected[f"{PREFIX}{day}/{rel}.gz.enc"] = (hashlib.sha256(data).hexdigest(), len(data))
    staging = os.path.join(root, "staging")
    os.makedirs(staging, exist_ok=True)
    with open(os.path.join(staging, "not-a-day.json"), "wb") as f:
        f.write(slice_of(corpus, 512, rng))
    return expected


# ------------------------------------------------------- Kafka wire format
# The benchmark's own v2 record-batch encoder, so a change to the program's
# writer cannot change the input. Layout per Kafka's protocol guide:
#   baseOffset:8 batchLength:4 partitionLeaderEpoch:4 magic:1 crc:4
#   attributes:2 lastOffsetDelta:4 baseTimestamp:8 maxTimestamp:8
#   producerId:8 producerEpoch:2 baseSequence:4 recordCount:4 records
# crc is CRC-32C (Castagnoli) over attributes..end.


def _crc32c_table():
    table = []
    for i in range(256):
        c = i
        for _ in range(8):
            c = (c >> 1) ^ 0x82F63B78 if c & 1 else c >> 1
        table.append(c)
    return table


_CRC32C = _crc32c_table()


def crc32c(data, crc=0):
    c = crc ^ 0xFFFFFFFF
    t = _CRC32C
    for b in data:
        c = t[(c ^ b) & 0xFF] ^ (c >> 8)
    return c ^ 0xFFFFFFFF


def varint(v):
    """Zigzag varint (protobuf style), as Kafka frames record fields."""
    z = (v << 1) ^ (v >> 63)
    z &= (1 << 64) - 1
    out = bytearray()
    while True:
        if z < 0x80:
            out.append(z)
            return bytes(out)
        out.append((z & 0x7F) | 0x80)
        z >>= 7


def record_batch(records):
    """records: [(offset, timestamp_ms, key bytes|None, value bytes|None)]."""
    base, base_ts = records[0][0], records[0][1]
    body = bytearray()
    for off, ts, key, value in records:
        rec = bytearray(b"\x00")
        rec += varint(ts - base_ts) + varint(off - base)
        rec += varint(-1) if key is None else varint(len(key)) + key
        rec += varint(-1) if value is None else varint(len(value)) + value
        rec += varint(0)  # no headers
        body += varint(len(rec)) + rec
    after_crc = (
        (0).to_bytes(2, "big")  # attributes: no codec, not transactional, not control
        + (records[-1][0] - base).to_bytes(4, "big")
        + base_ts.to_bytes(8, "big")
        + max(r[1] for r in records).to_bytes(8, "big")
        + (-1).to_bytes(8, "big", signed=True)
        + (-1).to_bytes(2, "big", signed=True)
        + (-1).to_bytes(4, "big", signed=True)
        + len(records).to_bytes(4, "big")
        + bytes(body)
    )
    head = (0).to_bytes(4, "big") + b"\x02" + crc32c(after_crc).to_bytes(4, "big")
    batch = head + after_crc
    return base.to_bytes(8, "big") + len(batch).to_bytes(4, "big") + batch


def write_kafka(root, seed, topics, partitions, records, median, sigma, days, tombstone_share,
                batch_records=32, segments_per_partition=2):
    """Kafka log directories `root/<topic>-<partition>/<base offset>.log`.

    CreateTime rises through `days` UTC days per partition; a seeded
    `tombstone_share` of records have a null value (Kafka's delete marker)
    and must not land. Returns (expected manifest, end offsets).
    """
    rng = random.Random(f"kafka:{seed}")
    tps = [f"{t}-{p}" for t in topics for p in range(partitions)]
    sizes = lognormal_sizes(records, median, sigma, rng)
    corpus = audit_corpus(rng, max(1 << 20, int(max(sizes) * 4)))
    start_ms = int(datetime(FIRST_DAY.year, FIRST_DAY.month, FIRST_DAY.day, tzinfo=timezone.utc).timestamp() * 1000)
    span_ms = days * 86_400_000
    per_tp = {tp: [] for tp in tps}
    for i in range(records):
        per_tp[tps[i % len(tps)]].append(i)
    tomb = set(rng.sample(range(records), round(records * tombstone_share)))
    expected, ends = {}, {}
    for tp, idxs in per_tp.items():
        stamps = sorted(start_ms + rng.randrange(span_ms) for _ in idxs)
        recs = []
        for off, (i, ts) in enumerate(zip(idxs, stamps)):
            key = f"user{rng.randrange(10**6):06d}".encode()
            value = None if i in tomb else slice_of(corpus, sizes[i], rng)
            recs.append((off, ts, key, value))
            if value is not None:
                day = datetime.fromtimestamp(ts / 1000, tz=timezone.utc).date().isoformat()
                expected[f"{PREFIX}{day}/{tp}-{off}.gz.enc"] = (hashlib.sha256(value).hexdigest(), len(value))
        ends[tp] = len(recs)
        tdir = os.path.join(root, tp)
        os.makedirs(tdir, exist_ok=True)
        seg_len = -(-len(recs) // segments_per_partition)
        for s in range(0, len(recs), seg_len):
            seg = recs[s:s + seg_len]
            with open(os.path.join(tdir, f"{seg[0][0]:020d}.log"), "wb") as f:
                for b in range(0, len(seg), batch_records):
                    f.write(record_batch(seg[b:b + batch_records]))
    return expected, ends


# ------------------------------------------------------------------ hashes


def tree_hash(root):
    """sha256 over (relative path, content) of every file under `root`."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            p = os.path.join(dirpath, name)
            h.update(os.path.relpath(p, root).encode() + b"\0")
            with open(p, "rb") as f:
                h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def manifest_bytes(expected):
    return sum(n for _, n in expected.values())
