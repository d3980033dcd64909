"""GA4-shaped input for the ETL workloads, and the ETL re-derived apart
from the program.

`generate` writes one parquet file per arrival day (`day_NN.parquet`) in
the shape of the GA4 micro-fixture of FIXTURES.md §2: `user_id`,
`event_date`, `event_timestamp` (epoch microseconds), `event_name` and
the `event_params` array of key/value structs, plus an `arrival` sequence
number that names "first write" explicitly.

Planted cases, with the outcomes FIXTURES.md §2 and §3 give, each a fixed
share of a day's rows (see README.md):
  * in-day resends of a natural key with other params (first arrival wins);
  * a repeated `id` param key (the last match wins);
  * NULL and empty `event_params` arrays;
  * NULL and empty `user_id`, and untracked event names (filtered out);
  * late events whose timestamp lies two or more days back, behind the
    watermark when their day is loaded (the reference drops them).

`derive` replays the same runs the benchmark makes, in plain Python over
the generated rows, and returns what each run must report and what the
sink must hold at the end.
"""
import datetime
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCABULARY = ["select_menu_category", "open_item_details", "select_commerce_category",
              "select_vendor", "add_item_to_favorites", "view_item"]
UNTRACKED = ["session_start", "scroll", "first_visit"]
DAY_US = 86_400_000_000
EPOCH_US = 1_767_225_600_000_000  # 2026-01-01T00:00:00Z

# shares of a day's rows, chosen to fit the run budget (not taken from
# real traffic)
SHARE_RESEND = 0.04
SHARE_LATE = 0.02
SHARE_NULL_USER = 0.01
SHARE_EMPTY_USER = 0.01
SHARE_UNTRACKED = 0.08
SHARE_NULL_PARAMS = 0.03
SHARE_EMPTY_PARAMS = 0.03
SHARE_REPEATED_KEY = 0.05

WORDS = ["blue", "red", "green", "widget", "gadget", "menu", "vendor", "pizza",
         "salad", "burger", "coffee", "deluxe", "classic", "family", "combo", "mini"]

PARAM_TYPE = pa.list_(pa.struct([("key", pa.string()),
                                 ("value", pa.struct([("string_value", pa.string())]))]))
SCHEMA = pa.schema([("arrival", pa.int64()), ("user_id", pa.string()),
                    ("event_date", pa.string()), ("event_timestamp", pa.int64()),
                    ("event_name", pa.string()), ("event_params", PARAM_TYPE)])


KEYS = np.array(["id", "name", "price"], dtype=object)


def _day(rng, d, n, users, arrival0):
    """One arrival day as a pyarrow table, plus its rows as tuples of
    (arrival, user_id, event_date, event_timestamp, event_name, id param,
    name param)."""
    day_start = EPOCH_US + d * DAY_US
    late = (rng.random(n) < SHARE_LATE) if d >= 2 else np.zeros(n, bool)
    back_day = rng.integers(0, max(d - 1, 1), n)
    ts = np.where(late, EPOCH_US + back_day * DAY_US, day_start) + rng.integers(0, DAY_US, n)
    u = rng.random(n)
    uid = rng.integers(0, users, n)
    names = np.where(rng.random(n) < SHARE_UNTRACKED,
                     np.array(UNTRACKED, dtype=object)[rng.integers(0, len(UNTRACKED), n)],
                     np.array(VOCABULARY, dtype=object)[rng.integers(0, len(VOCABULARY), n)])
    # in-day resends: the same natural key again later the same day,
    # carrying other params; sorting by position puts each after its
    # original, so arrival order makes the original the first write
    k = int(n * SHARE_RESEND)
    src = rng.integers(0, n, k)
    pos = np.concatenate([np.arange(n, dtype=float), src + 0.5 + rng.random(k) * (n - src)])
    rows = np.concatenate([np.arange(n), src])[np.argsort(pos, kind="stable")]
    m = len(rows)
    ts, u, uid, names = ts[rows], u[rows], uid[rows], names[rows]
    users_col = [None if x < SHARE_NULL_USER else "" if x < SHARE_NULL_USER + SHARE_EMPTY_USER
                 else f"u{i}" for x, i in zip(u.tolist(), uid.tolist())]
    # params, drawn per arrival so a resend carries its own
    pr = rng.random(m)
    null_p = pr < SHARE_NULL_PARAMS
    empty_p = (~null_p) & (pr < SHARE_NULL_PARAMS + SHARE_EMPTY_PARAMS)
    full = ~(null_p | empty_p)
    has = np.stack([full,
                    full & (rng.random(m) < 0.7),
                    full & (rng.random(m) < 0.3),
                    full & (rng.random(m) < SHARE_REPEATED_KEY / (1 - SHARE_NULL_PARAMS - SHARE_EMPTY_PARAMS))],
                   axis=1)
    row_of, slot = np.nonzero(has)
    order = np.lexsort((rng.random(len(row_of)), row_of))  # shuffled within each row
    row_of, slot = row_of[order], slot[order]
    keys = KEYS[np.minimum(slot, 2) * (slot != 3)]
    item = rng.integers(0, 100_000, len(slot))
    w1 = np.array(WORDS, dtype=object)[rng.integers(0, len(WORDS), len(slot))]
    w2 = np.array(WORDS, dtype=object)[rng.integers(0, len(WORDS), len(slot))]
    vals = [f"item-{i}" if s in (0, 3) else f"{a} {b}" if s == 1 else str(100 + i % 4900)
            for s, i, a, b in zip(slot.tolist(), item.tolist(), w1.tolist(), w2.tolist())]
    counts = np.bincount(row_of, minlength=m)
    offsets = np.concatenate([[0], np.cumsum(counts)]).astype(np.int32)
    params = pa.ListArray.from_arrays(
        pa.array(offsets), pa.StructArray.from_arrays(
            [pa.array(keys.tolist(), pa.string()),
             pa.StructArray.from_arrays([pa.array(vals, pa.string())], ["string_value"])],
            ["key", "value"]),
        mask=pa.array(np.concatenate([null_p, [False]])[:m]))
    arrival = np.arange(arrival0, arrival0 + m)
    day_idx = (ts - EPOCH_US) // DAY_US
    names_of_days = np.array([(datetime.date(2026, 1, 1) + datetime.timedelta(days=int(x))).strftime("%Y%m%d")
                              for x in range(int(day_idx.max()) + 1)], dtype=object)
    dates = names_of_days[day_idx].tolist()
    table = pa.table([pa.array(arrival), pa.array(users_col, pa.string()), pa.array(dates, pa.string()),
                      pa.array(ts), pa.array(names.tolist(), pa.string()), params], schema=SCHEMA)
    # the param each row's extraction must yield: the value of the last
    # element with that key (the reference's loop keeps overwriting)
    vals_a = np.array(vals, dtype=object)

    def last_of(key):
        out = np.full(m, None, dtype=object)
        idx = np.nonzero(keys == key)[0]
        rws = row_of[idx]
        last = np.r_[rws[1:] != rws[:-1], True] if len(idx) else np.zeros(0, bool)
        out[rws[last]] = vals_a[idx[last]]
        return out
    py = list(zip(arrival.tolist(), users_col, dates, ts.tolist(), names.tolist(),
                  last_of("id").tolist(), last_of("name").tolist()))
    return table, py


def generate(seed, days, rows_per_day, users, out_dir):
    """Writes `day_NN.parquet` per arrival day; returns the rows per day."""
    os.makedirs(out_dir, exist_ok=True)
    rng = np.random.Generator(np.random.PCG64(seed))
    out, arrival = [], 0
    for d in range(days):
        table, rows = _day(rng, d, rows_per_day, users, arrival)
        arrival += len(rows)
        pq.write_table(table, os.path.join(out_dir, f"day_{d:02d}.parquet"))
        out.append(rows)
    return out


def plan(days, history, replays):
    """The runs of one round: (kind, last arrival day, rollback days)."""
    runs = [("backfill", history - 1, 0)]
    runs += [("daily", d, 0) for d in range(history, days)]
    runs += [("replay", days - 1, k) for k in range(1, replays + 1)]
    return runs


def derive(days_rows, days, history, replays):
    """Expected per-run counts, final watermark and final sink rows."""
    vocab = set(VOCABULARY)
    wm = 0
    sink = {}
    wm_before_day = {}
    expected = []
    for kind, last, rollback in plan(days, history, replays):
        if kind == "daily":
            wm_before_day[last] = wm
        if kind == "replay":
            wm = wm_before_day[days - rollback]
        before = wm
        batch = {}
        late = 0
        for d in range(last + 1):
            for r in days_rows[d]:
                arrival, user, date, ts, name = r[:5]
                tracked = user not in (None, "") and name in vocab
                if ts <= before:
                    if tracked and kind == "daily" and d == last:
                        late += 1
                    continue
                if not tracked:
                    continue
                key = (user, ts, name)
                if key in batch and batch[key][0] <= arrival:
                    continue  # first arrival wins
                batch[key] = r
        inserted = 0
        for key, r in batch.items():
            if key not in sink:
                sink[key] = r[1:]
                inserted += 1
        if batch:
            wm = max(wm, max(k[1] for k in batch))
        expected.append({"kind": kind, "day": last, "fetched": len(batch),
                         "inserted": inserted, "wm_before": before, "wm_after": wm,
                         "late_dropped": late})
    return expected, wm, set(sink.values())
