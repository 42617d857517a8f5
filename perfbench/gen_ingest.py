"""Deterministic sensor traffic for the `ingest` workload.

Every line is one SIMPSS wire record in the strict 11-key form the stream
parses (`id`, `uptime`, `T`, `P`, `H`, `Ix`, `Iy`, `Iz`, `M`,
`time_received`, `seq`), where `seq` is the line's global offset in the
log. The traffic carries:

- one hot `sensor_group` (the first by name) that emits about half the
  records;
- about 10% re-emits of a recent primary key with new values and a larger
  `seq`, which last-write-wins must collapse;
- about 2% records whose `time_received` is older than the sensor's
  previous record (out of order, but a new key);
- about 1% malformed lines (broken JSON, an extra key, a missing key),
  which the stream must dead-letter.

The log is cut into segment files in three phases: `pre` (read before the
crash), `backlog` (written while the stream is down) and `live` (written
on a fixed schedule by the benchmark's generator thread, listed in
`schedule.tsv` as `name<TAB>due_ms`). The generator's own bookkeeping
(due time and kind of every line) stays in Python and never reaches the
stream.
"""
import csv
import datetime
import os
import random

BASE = datetime.datetime(2024, 3, 1)
P_MALFORMED, P_DUP, P_OOO, HOT_SHARE = 0.01, 0.10, 0.02, 0.5


def load_dim(path):
    with open(path, newline="") as f:
        rows = [(int(r["sensor_id"]), r["group_id"].strip()) for r in csv.DictReader(f)]
    return rows


_TS = {}


def _stamp(t):
    s = _TS.get(t)
    if s is None:
        s = _TS[t] = (BASE + datetime.timedelta(seconds=t)).strftime("%Y-%m-%dT%H:%M:%S")
    return s


def _line(rec):
    gid, sid, t, vals, seq = rec
    u, T, P, H, ix, iy, iz, m = vals
    ts = _stamp(t)
    return (f'{{"id":{sid},"uptime":{u},"T":{T},"P":{P},"H":{H},"Ix":{ix},"Iy":{iy},'
            f'"Iz":{iz},"M":{m},"time_received":"{ts}","seq":{seq}}}')


def records(seed, dim, n):
    """Yield (kind, line, key, value) for n lines; kind is 'rec' or 'bad'.
    key = (group, sensor_id, epoch_offset_s); value = (vals, seq)."""
    rnd = random.Random(seed)
    hot = sorted({g for _, g in dim})[0]
    hot_ids = [s for s, g in dim if g == hot]
    cold_ids = [s for s, g in dim if g != hot]
    group_of = dict(dim)
    clock = {s: rnd.randrange(0, 1000) * 2 for s, _ in dim}
    last = {}
    recent = []
    for seq in range(n):
        vals = (rnd.randrange(100000), rnd.randrange(-20, 60), rnd.randrange(950, 1050),
                rnd.randrange(100), rnd.randrange(-100, 101), rnd.randrange(-100, 101),
                rnd.randrange(-100, 101), rnd.randrange(256))
        r = rnd.random()
        if r < P_MALFORMED:
            sid = rnd.choice(hot_ids + cold_ids)
            good = _line((group_of[sid], sid, clock[sid], vals, seq))
            kind = rnd.randrange(3)
            if kind == 0:
                bad = good[: len(good) // 2]
            elif kind == 1:
                bad = good[:-1] + ',"extra":1}'
            else:
                bad = good.replace(f'"H":{vals[3]},', "")
            yield "bad", bad, None, None
            continue
        if r < P_MALFORMED + P_DUP and recent:
            key = recent[rnd.randrange(len(recent))]
        else:
            sid = rnd.choice(hot_ids) if rnd.random() < HOT_SHARE else rnd.choice(cold_ids)
            if sid in last and rnd.random() < P_OOO and last[sid] % 2 == 0:
                t = last[sid] - 1  # odd seconds are never on the clock: a fresh key
            else:
                clock[sid] += 2
                t = clock[sid]
            last[sid] = t
            key = (group_of[sid], sid, t)
            recent.append(key)
            if len(recent) > 1000:
                recent.pop(0)
        yield "rec", _line((key[0], key[1], key[2], vals, seq)), key, (vals, seq)


def store_failures(got, want):
    """Records of `want` that are lost, doubled or wrong in the store rows
    `got`, plus store rows under a key `want` does not have: one per key."""
    want_by_key = {r[:3]: r for r in want}
    got_by_key = {}
    for r in got:
        got_by_key.setdefault(r[:3], []).append(r)
    bad = sum(1 for k, r in want_by_key.items() if got_by_key.get(k) != [r])
    return bad + sum(1 for k in got_by_key if k not in want_by_key)


def generate(out_dir, seed, dim_path, n_pre, n_backlog, live_rate, live_seconds,
             seg_lines=5000, seg_ms=100):
    """Write the segment files; return the bookkeeping the checks need."""
    dim = load_dim(dim_path)
    per_live = max(1, int(round(live_rate * seg_ms / 1000.0)))
    n_live_segs = int(live_seconds * 1000 // seg_ms)
    n = n_pre + n_backlog + per_live * n_live_segs
    for d in ("pre", "backlog", "live"):
        os.makedirs(os.path.join(out_dir, d), exist_ok=True)
    latest = {}
    bad_lines = []
    lines = []
    for i, (kind, line, key, val) in enumerate(records(seed, dim, n)):
        lines.append(line)
        if kind == "bad":
            bad_lines.append(i)
        else:
            latest[key] = val  # seq grows with the line index: last write wins
    seg_no = 0
    schedule = []
    live_segments = []

    def write(phase, lo, hi):
        nonlocal seg_no
        name = f"seg-{seg_no:06d}.ndjson"
        seg_no += 1
        with open(os.path.join(out_dir, phase, name), "w") as f:
            f.write("\n".join(lines[lo:hi]) + "\n")
        return name

    for lo in range(0, n_pre, seg_lines):
        write("pre", lo, min(n_pre, lo + seg_lines))
    for lo in range(n_pre, n_pre + n_backlog, seg_lines):
        write("backlog", lo, min(n_pre + n_backlog, lo + seg_lines))
    lo = n_pre + n_backlog
    for k in range(n_live_segs):
        name = write("live", lo, lo + per_live)
        schedule.append((name, k * seg_ms))
        live_segments.append({"name": name, "first": lo, "lines": per_live, "due_ms": k * seg_ms})
        lo += per_live
    with open(os.path.join(out_dir, "schedule.tsv"), "w") as f:
        f.write("".join(f"{name}\t{due}\n" for name, due in schedule))
    rows = sorted((k[0], k[1], k[2]) + tuple(v[0]) + (v[1],) for k, v in latest.items())
    return {"lines": n, "pre": n_pre, "backlog": n_backlog, "bad_lines": bad_lines,
            "live_segments": live_segments, "store": rows, "store_rows": len(rows)}
