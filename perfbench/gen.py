"""Seeded load generation for the streaming workload.

The generator writes the shard layout the `kinesiscat` source reads
(`<stream>/shard-<id>.jsonl`, one envelope per line: `sequenceNumber`,
`partitionKey`, `data`, `approximateArrivalTimestamp`) directly, without the
program's own writer. Every record's payload carries its id. The same seed
gives the same records.
"""
import json
import os
import random

WORDS = ("alpha bravo charlie delta echo foxtrot golf hotel india juliet kilo lima "
         "mike november oscar papa quebec romeo sierra tango uniform victor whiskey "
         "xray yankee zulu amber basalt cobalt dune ember fjord granite harbor").split()
EVENT_TYPES = ("view", "click", "cart", "purchase", "share", "search")

# drain_wide's -filter: selects about half the records and projects four fields
DRAIN_FILTER = "k >= `50` && length(tags) == `2` && {id: id, k: k, tag: tags[0], u: meta.u}"


def envelope(seq, key, data, arrival_ms):
    return json.dumps({"sequenceNumber": str(seq), "partitionKey": key, "data": data,
                       "approximateArrivalTimestamp": arrival_ms},
                      separators=(",", ":")) + "\n"


def compact(obj):
    return json.dumps(obj, separators=(",", ":"))


def drain_expected(doc):
    """The framed line the CLI must print for one drain record, or None when
    the filter drops it (computed here, independently of the program)."""
    if doc["k"] >= 50 and len(doc["tags"]) == 2:
        return compact({"id": doc["id"], "k": doc["k"], "tag": doc["tags"][0],
                        "u": doc["meta"]["u"]})
    return None


def drain_doc(rng, rid):
    """About 1 KB of nested JSON."""
    ntags = 2 if rng.random() < 0.9 else 3
    return {
        "id": rid,
        "k": rng.randrange(100),
        "tags": ["t%d" % rng.randrange(40) for _ in range(ntags)],
        "meta": {"u": rng.randrange(1_000_000), "et": rng.choice(EVENT_TYPES),
                 "src": {"host": "h%03d" % rng.randrange(200), "region": rng.choice(WORDS),
                         "lat": round(rng.uniform(-90, 90), 4),
                         "lon": round(rng.uniform(-180, 180), 4)}},
        "nums": [rng.randrange(1000) for _ in range(12)],
        "attrs": {"a%d" % j: " ".join(rng.choice(WORDS) for _ in range(4))
                  for j in range(12)},
        "items": [{"sku": "sku-%05d" % rng.randrange(100000), "qty": rng.randrange(1, 9),
                   "price": round(rng.uniform(1, 500), 2)} for _ in range(4)],
        "text": " ".join(rng.choice(WORDS) for _ in range(40)),
    }


def write_drain_backlog(out_dir, seed, shards, per_shard):
    """Writes the backlog shards to `out_dir`; returns (expected, docs_sample,
    records, bytes). `expected` maps each framed line to (shard, index)."""
    rng = random.Random(seed)
    os.makedirs(out_dir, exist_ok=True)
    expected, sample, total_bytes = {}, [], 0
    for s in range(shards):
        sid = "b%02d" % s
        lines = []
        for i in range(per_shard):
            doc = drain_doc(rng, "%s-%06d" % (sid, i))
            data = compact(doc)
            line = drain_expected(doc)
            if line is not None:
                expected[line] = (sid, i)
            if i % 50 == 0:
                sample.append(data)
            lines.append(envelope(i, "pk-%d" % rng.randrange(1000), data, 1_700_000_000_000 + i))
        blob = "".join(lines).encode()
        total_bytes += len(blob)
        with open(os.path.join(out_dir, "shard-%s.jsonl" % sid), "wb") as f:
            f.write(blob)
    return expected, sample, shards * per_shard, total_bytes


def write_drain_warmup(stream_dir, seed, shards=4, per_shard=2000):
    """Shards present when the CLI starts, of the same shape as the backlog,
    so the first batch also warms up the per-record code. The arrival of
    their lines marks readiness."""
    rng = random.Random(seed ^ 0x5eed)
    os.makedirs(stream_dir, exist_ok=True)
    expected = {}
    for s in range(shards):
        sid = "w%d" % s
        lines = []
        for i in range(per_shard):
            doc = drain_doc(rng, "%s-%06d" % (sid, i))
            line = drain_expected(doc)
            if line is not None:
                expected[line] = (sid, i)
            lines.append(envelope(i, "warm", compact(doc), 1_700_000_000_000))
        with open(os.path.join(stream_dir, "shard-%s.jsonl" % sid), "w") as f:
            f.write("".join(lines))
    return expected
