"""Seeded input generator for the CDC-sink benchmark.

Writes Debezium-style JSON envelopes (one per line: ``destination``, ``key``
and ``value``, each of key and value a ``{"schema", "payload"}`` object, as
Kafka Connect's JsonConverter emits with schemas enabled). Every byte is a
function of the seed and the sizing arguments. It also returns its own
record of the events it wrote, which the oracle folds into the expected
table state.

Files are written under a hidden temporary name and renamed into place, so a
file stream source never sees a partial file.
"""

import base64
import json
import os
import random

# Logical types the program decodes (see the notes file for the mapping).
DECIMAL = "org.apache.kafka.connect.data.Decimal"
MICRO_TS = "io.debezium.time.MicroTimestamp"
DATE = "io.debezium.time.Date"

# (name, connect type, logical name, parameters, optional)
BASE_FIELDS = [
    ("id", "int64", None, None, False),
    ("customer", "string", None, None, True),
    ("amount", "bytes", DECIMAL, {"scale": "2", "connect.decimal.precision": "12"}, True),
    ("qty", "int32", None, None, True),
    ("price", "float64", None, None, True),
    ("active", "boolean", None, None, True),
    ("created_at", "int64", MICRO_TS, None, True),
    ("birth_date", "int32", DATE, None, True),
    ("note", "string", None, None, True),
    ("region", "string", None, None, True),
    ("__op", "string", None, None, True),
    ("__source_ts_ms", "int64", None, None, True),
]
# The optional column added midway through trickle_commit.
ADDED_FIELD = ("loyalty", "int64", None, None, True)

# Column order of a decoded row; `loyalty` is last when present.
COLUMNS = [f[0] for f in BASE_FIELDS] + [ADDED_FIELD[0]]

TS0_MS = 1_700_000_000_000
# Source timestamps of consecutive files never overlap, so equal
# (timestamp, op) pairs of one key only ever meet inside one file.
FILE_TS_STRIDE_MS = 10_000_000
OP_MIX = (("c", 0.20), ("u", 0.70), ("d", 0.10))


def _field_schema(f):
    name, typ, logical, params, optional = f
    s = {"field": name, "type": typ, "optional": optional}
    if logical:
        s["name"] = logical
        s["version"] = 1
    if params:
        s["parameters"] = params
    return s


def value_schema_json(dest, with_added):
    fields = BASE_FIELDS + ([ADDED_FIELD] if with_added else [])
    return json.dumps({"type": "struct", "optional": False,
                       "name": dest + ".Value",
                       "fields": [_field_schema(f) for f in fields]},
                      separators=(",", ":"))


def key_schema_json(dest):
    return json.dumps({"type": "struct", "optional": False,
                       "name": dest + ".Key",
                       "fields": [_field_schema(BASE_FIELDS[0])]},
                      separators=(",", ":"))


def decimal_b64(unscaled):
    """Connect Decimal wire form: big-endian two's complement, base64."""
    n = (unscaled + (unscaled < 0)).bit_length() // 8 + 1
    return base64.b64encode(unscaled.to_bytes(n, "big", signed=True)).decode("ascii")


def random_row(rng, key, with_added):
    """One row image as a tuple in COLUMNS order, without __op/__source_ts_ms
    (the caller fills those). Doubles are multiples of 1/8, so their
    three-decimal text is exact in every language."""
    row = [
        key,
        "cust-%05d" % rng.randrange(100_000),
        rng.randrange(-100_000, 10_000_000),            # amount, unscaled
        rng.randrange(1000),                             # qty
        rng.randrange(800_000) / 8.0,                    # price
        rng.random() < 0.5,                              # active
        1_600_000_000_000_000 + rng.randrange(10 ** 14),  # created_at, micros
        rng.randrange(20_000),                           # birth_date, days
        None if rng.random() < 0.3 else "n%d" % rng.randrange(10 ** 6),
        "r%02d" % rng.randrange(16),                     # region
        None, None,
    ]
    row.append(rng.randrange(10 ** 6) if with_added and rng.random() < 0.8 else None)
    return row


def _js(v):
    if v is None:
        return "null"
    if v is True:
        return "true"
    if v is False:
        return "false"
    if isinstance(v, str):
        return '"' + v + '"'  # generated strings never need escaping
    if isinstance(v, float):
        return repr(v)
    return str(v)


def payload_json(row, with_added):
    vals = list(row)
    vals[2] = None if vals[2] is None else decimal_b64(vals[2])
    names = COLUMNS if with_added else COLUMNS[:-1]
    return "{" + ",".join('"%s":%s' % (n, _js(v)) for n, v in zip(names, vals)) + "}"


class KeySpace:
    """Live keys of one destination. Keys below `initial_live` exist at the
    source before the first event (rows the sink has never seen, so an
    update of one lands as an insert). A `c` takes a key that is not live,
    a `u` or `d` a live one, so the op mix holds and a deleted key can be
    re-inserted later."""

    def __init__(self, size, initial_live):
        self.size = size
        self.live = list(range(initial_live))
        self.pos = {k: k for k in self.live}
        self.rows = {}

    def pick_new(self, rng):
        for _ in range(64):
            k = rng.randrange(self.size)
            if k not in self.pos:
                return k
        raise RuntimeError("key space too small for the op mix")

    def pick_live(self, rng):
        return self.live[rng.randrange(len(self.live))]

    def put(self, k, row):
        if k not in self.pos:
            self.pos[k] = len(self.live)
            self.live.append(k)
        self.rows[k] = row

    def remove(self, k):
        i = self.pos.pop(k)
        last = self.live.pop()
        if last != k:
            self.live[i] = last
            self.pos[last] = i
        return self.rows.pop(k, None)


def _choose_op(rng, space):
    x = rng.random()
    if not space.live or x < OP_MIX[0][1]:
        return "c"
    return "u" if x < OP_MIX[0][1] + OP_MIX[1][1] else "d"


def _write_atomic(path, text):
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    with open(tmp, "w") as f:
        f.write(text)
    os.replace(tmp, path)


def envelope_files(out_dir, seed, dests, key_space, initial_live, n_files,
                   events_per_file, added_from_file=None):
    """Write `n_files` envelope files of `events_per_file` events each,
    events spread uniformly over `dests`, each destination with its own
    `key_space` of which `initial_live` keys exist up front. Files from
    `added_from_file` on carry the extra optional column. Returns the record
    of what was written:
    a list (one per file, in order) of event lists, each event
    ``(dest, key, op, ts_ms, row)`` with `row` in COLUMNS order.
    """
    os.makedirs(out_dir, exist_ok=True)
    rng = random.Random(seed)
    spaces = {d: KeySpace(key_space, initial_live) for d in dests}
    key_schemas = {d: key_schema_json(d) for d in dests}
    val_schemas = {(d, a): value_schema_json(d, a) for d in dests for a in (False, True)}
    record = []
    for fi in range(n_files):
        with_added = added_from_file is not None and fi >= added_from_file
        lines, events = [], []
        for i in range(events_per_file):
            dest = dests[rng.randrange(len(dests))]
            space = spaces[dest]
            op = _choose_op(rng, space)
            ts = TS0_MS + fi * FILE_TS_STRIDE_MS + i // 2
            if op == "d":
                k = space.pick_live(rng)
                row = space.remove(k) or random_row(rng, k, with_added)  # the before image
            else:
                k = space.pick_new(rng) if op == "c" else space.pick_live(rng)
                row = random_row(rng, k, with_added)
                space.put(k, row)
            row = row[:len(COLUMNS) if with_added else len(COLUMNS) - 1]
            row[10], row[11] = op, ts
            lines.append('{"destination":"%s","key":{"schema":%s,"payload":{"id":%d}},'
                         '"value":{"schema":%s,"payload":%s}}'
                         % (dest, key_schemas[dest], k, val_schemas[(dest, with_added)],
                            payload_json(row, with_added)))
            events.append((dest, k, op, ts, tuple(row)))
        _write_atomic(os.path.join(out_dir, "part-%05d.json" % fi),
                      "\n".join(lines) + "\n")
        record.append(events)
    return record

