"""Independent model of the sink: folds the generator's own record of events
into the expected final table state, and hashes table states the same way
the JVM side does (see ``CdcBench.scala``, ``canonicalHash``).

The fold is the reference's batch semantics: within one batch the winner per
key is the maximum by (``__source_ts_ms``, op priority c<r<u<d, arrival);
batches apply in order, so a later batch always overrides an earlier one. A
winning ``d`` is a hard delete and removes the key.
"""

import hashlib

OP_PRIORITY = {"c": 1, "i": 1, "r": 2, "u": 3, "d": 4}


def fold(state, batch):
    """Apply one batch of ``(dest, key, op, ts_ms, row)`` events to `state`,
    a dict ``dest -> {key: row}``, in place."""
    winners = {}
    for arrival, (dest, key, op, ts, row) in enumerate(batch):
        rank = (ts, OP_PRIORITY[op], arrival)
        cur = winners.get((dest, key))
        if cur is None or rank > cur[0]:
            winners[(dest, key)] = (rank, op, row)
    for (dest, key), (_, op, row) in winners.items():
        table = state.setdefault(dest, {})
        if op == "d":
            table.pop(key, None)
        else:
            table[key] = row


def fold_all(batches):
    state = {}
    for b in batches:
        fold(state, b)
    return state


def _fmt(v, col):
    if v is None:
        return "\\N"
    if col == "amount":  # decimal(12,2) from its unscaled integer
        sign = "-" if v < 0 else ""
        return "%s%d.%02d" % (sign, abs(v) // 100, abs(v) % 100)
    if col == "price":
        return "%.3f" % v
    if isinstance(v, bool):
        return "true" if v else "false"
    return str(v)


def canonical(row, columns):
    """The row's text as the JVM side renders it: '|'-joined columns,
    ``\\N`` for null; decimals with their scale, doubles with three
    decimals, timestamps as epoch micros (millis for ``__source_ts_ms``),
    dates as epoch days."""
    return "|".join(_fmt(v, c) for v, c in zip(row, columns))


def row_hash(text):
    return int(hashlib.md5(text.encode("ascii")).hexdigest()[:15], 16)


def table_hash(rows, columns):
    """Order-independent digest of a table: (row count, sum of per-row
    60-bit md5 prefixes)."""
    return len(rows), sum(row_hash(canonical(r, columns)) for r in rows)
