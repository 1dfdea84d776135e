"""Independent output checks feeding `failed` / `attempted`.

Streams: every expected framed line must arrive exactly once and in per-shard
order; any other stdout line is a failure. The suite: each query's row count
and checksum must equal the fingerprint stored beside this file.
"""
import json
import os


class StreamCheck:
    def __init__(self, expected):
        self.expected = expected  # line -> (shard, index)
        self.seen = {}            # line -> arrival time
        self.last_index = {}      # shard -> highest index seen so far
        self.problems = []        # (kind, line)

    def feed(self, t, line):
        where = self.expected.get(line)
        if where is None:
            self.problems.append(("unexpected", line))
        elif line in self.seen:
            self.problems.append(("duplicate", line))
        else:
            self.seen[line] = t
            shard, idx = where
            if idx < self.last_index.get(shard, -1):
                self.problems.append(("out_of_order", line))
            else:
                self.last_index[shard] = idx

    def finish(self):
        """Returns (attempted, failed, listing). Missing records are failures."""
        missing = [("missing", line) for line in self.expected if line not in self.seen]
        problems = self.problems + missing
        return len(self.expected), len(problems), problems


def load_fingerprints(here):
    with open(os.path.join(here, "fingerprints.json")) as f:
        return json.load(f)


def check_query(fp, name, rows, checksum):
    """None when the result matches its fingerprint, else the reason."""
    want = fp["queries"].get(name)
    if want is None:
        return "no fingerprint"
    if rows != want["rows"]:
        return "rows %d != %d" % (rows, want["rows"])
    if want.get("checksum") is not None and str(checksum) != want["checksum"]:
        return "checksum %s != %s" % (checksum, want["checksum"])
    return None
