#!/usr/bin/env python3
"""Open-loop CDC feed generator for the cdcbench benchmark.

One single-threaded process. It builds the whole feed from the seed before
the run starts, then publishes it as JSON-lines files (one ChangeEvent per
line) on a fixed schedule that does not wait for the pipeline:

  warm-up   published at once into every set-up directory (feed0..feed2);
            a copy of the whole feed goes to replay/ for the batch replay
  backlog   --backlog-s seconds of feed at --rate events/s, one file per
            BACKLOG_FILE_MS slice, published at once when the benchmark
            signals `drain` (the standing backlog the pipeline drains)
  nominal   the next --nominal-s seconds of feed, one file per
            NOMINAL_FILE_MS slice, each published when its slice's last
            event is due, counted from the `go` the benchmark writes once
            the backlog is drained

Each file is written under another name in a sibling directory and renamed
into place, so the pipeline never sees a partial file. File mtimes strictly
increase, so the file source reads them in publication order.

The feed carries its own clock: every event's `tm` is FEED_EPOCH_NS plus the
offset at which the event was due, so one seed always gives byte-identical
files. The wall time of the nominal schedule's start (t0) arrives through
the `go` file; a nominal commit's due wall time is t0 plus its offset in
`due.tsv` (its feed offset less the backlog's length).

Run `python3 cdcbench/gen.py --selftest` to check the generator contract.
"""
import argparse
import hashlib
import json
import os
import random
import sys
import time

FEED_EPOCH_NS = 1_700_000_000_000_000_000
# Feed slice per published file. A drain batch takes the source's
# maxFilesPerTrigger (100) backlog files. A nominal batch takes the files
# published during the batch before it: ~10-20 at 100 ms. Spark lists a
# batch's files with a distributed job once there are more than 32
# (spark.sql.sources.parallelPartitionDiscovery.threshold), which adds
# ~0.2 s to the batch; with 50 ms slices a nominal batch sat right at that
# threshold and flipped between ~1.3 s and ~1.8 s from run to run.
BACKLOG_FILE_MS = 50
NOMINAL_FILE_MS = 100
# Set-ups per run, each with its own feed directory; the benchmark reads the
# count from `gen_ready` and reports their median as setup_s.
SETUPS = 3
OWNER = "APP"
# Fixed table shapes (independent of the seed): ~8 tables of 4-16 columns.
TABLE_COLS = [4, 6, 8, 10, 12, 14, 16, 9]
# String column values: 4096 fixed words of 6-20 letters, picked per value
# by the seeded generator.
_w = random.Random(0)
WORDS = ["".join(_w.choice("abcdefghijklmnopqrstuvwxyz") for _ in range(_w.randint(6, 20)))
         for _ in range(4096)]


def tables():
    out = []
    for t, n in enumerate(TABLE_COLS):
        cols = [{"name": "ID", "type": 2, "pk": 1}]
        for c in range(1, n):
            cols.append({"name": "C%02d" % c, "type": 1 if c % 2 else 2, "pk": 0})
        out.append({"obj": 70001 + t, "owner": OWNER, "name": "T%d" % (t + 1),
                    "columns": cols})
    return out


class Feed:
    """Event builder: global SCN clock, unique XIDs, row ids per table."""

    def __init__(self, rnd):
        self.rnd = rnd
        self.tabs = tables()
        self.scn = 5_000_000
        self.offset = 0
        self.xid_n = 0
        self.next_row = [1000] * len(self.tabs)

    def new_xid(self):
        n = self.xid_n
        self.xid_n += 1
        return "%d.%d.%d" % (1 + n % 20, (n // 20) % 32, n)

    def value(self, col):
        if col["type"] == 2:
            return str(self.rnd.getrandbits(30))
        return WORDS[self.rnd.getrandbits(12)]

    def row(self, t, rid):
        img = {}
        for col in self.tabs[t]["columns"]:
            img[col["name"]] = str(rid) if col["pk"] else self.value(col)
        return img

    def event(self, xid, op, due_ns, seq, **kw):
        self.scn += self.rnd.randint(1, 3)
        self.offset += 512
        e = {"scn": self.scn, "subScn": 0, "seq": seq, "offset": self.offset,
             "thread": 1, "xid": xid, "op": op}
        e.update(kw)
        e["tm"] = FEED_EPOCH_NS + due_ns
        return e

    def dml(self, xid, due_ns, seq):
        """One DML: ~60% INS, 30% UPD (supplemental before-image), 10% DEL."""
        r = self.rnd
        t = r.randrange(len(self.tabs))
        obj = self.tabs[t]["obj"]
        p = r.random()
        if p < 0.6:
            rid = self.next_row[t]
            self.next_row[t] += 1
            kw = {"after": self.row(t, rid)}
            op = "INS"
        else:
            rid = r.randrange(1, self.next_row[t])
            full = self.row(t, rid)
            if p < 0.9:
                cols = [c["name"] for c in self.tabs[t]["columns"][1:]]
                changed = r.sample(cols, min(len(cols), r.randint(1, 3)))
                kw = {"before": {c: full[c] for c in changed},
                      "after": {c: self.value({"type": 1}) for c in changed},
                      "suppBefore": {"ID": str(rid)}}
                op = "UPD"
            else:
                kw = {"before": full}
                op = "DEL"
        kw.update(obj=obj, bdba=4096 + rid // 64, slot=rid % 64)
        return self.event(xid, op, due_ns, seq, **kw)


def gen_short(rnd, n_events, start_ns, rate):
    """OLTP transactions: BEGIN, 1-4 DML, COMMIT, consecutive in the feed."""
    f = Feed(rnd)
    evs = []
    i = 0
    while i < n_events:
        xid = f.new_xid()
        k = rnd.randint(1, 4)
        for j in range(k + 2):
            due = start_ns + int((i + j) * 1e9 / rate)
            seq = 100 + due // 10**9
            if j == 0:
                evs.append(f.event(xid, "BEGIN", due, seq))
            elif j == k + 1:
                evs.append(f.event(xid, "COMMIT", due, seq))
            else:
                evs.append(f.dml(xid, due, seq))
        i += k + 2
    return evs


def gen_straddle(rnd, n_events, start_ns, rate, active):
    """Long transactions (50-500 DML, log-uniform) interleaved over `active`
    open slots.

    The warm-up fills the pool with transactions at random progress, so
    commits are spread evenly from the schedule's start. ~5% of transactions
    end in ROLLBACK, ~1% never end (the open tail), ~2% of DML slots are
    PARTIAL_ROLLBACKs of an earlier op of the same transaction.
    """
    f = Feed(rnd)
    evs = []

    def new_txn(aged):
        # log-uniform size: many more of 50-100 DML than of 400-500
        n = int(50 * 10 ** rnd.random())
        end = rnd.random()
        kind = "ROLLBACK" if end < 0.05 else ("OPEN" if end < 0.06 else "COMMIT")
        return {"xid": f.new_xid(), "left": n, "ops": [],
                "kind": kind, "began": False,
                "skip": rnd.randint(0, n - 1) if aged else 0}

    pool = [new_txn(True) for _ in range(active)]
    # warm-up: each pooled transaction emits BEGIN and `skip` of its DML,
    # interleaved at random over the second before the schedule starts
    pre = [t for t in pool for _ in range(t["skip"] + 1)]
    rnd.shuffle(pre)
    for i, t in enumerate(pre):
        due = start_ns - 10**9 + i * 10**9 // len(pre)
        seq = 99
        if not t["began"]:
            t["began"] = True
            evs.append(f.event(t["xid"], "BEGIN", due, seq))
        else:
            e = f.dml(t["xid"], due, seq)
            t["ops"].append(e)
            t["left"] -= 1
            evs.append(e)
    warm = len(evs)
    i = 0
    while len(evs) - warm < n_events:
        due = start_ns + int(i * 1e9 / rate)
        seq = 100 + due // 10**9
        i += 1
        slot = rnd.randrange(active)
        t = pool[slot]
        if not t["began"]:
            t["began"] = True
            evs.append(f.event(t["xid"], "BEGIN", due, seq))
        elif t["left"] > 0:
            if t["ops"] and rnd.random() < 0.02:
                o = rnd.choice(t["ops"])
                evs.append(f.event(t["xid"], "PARTIAL_ROLLBACK", due, seq,
                                   obj=o["obj"], bdba=o["bdba"], slot=o["slot"]))
            else:
                e = f.dml(t["xid"], due, seq)
                t["ops"].append(e)
                evs.append(e)
            t["left"] -= 1
        else:
            if t["kind"] != "OPEN":
                evs.append(f.event(t["xid"], t["kind"], due, seq))
            pool[slot] = new_txn(False)
    return evs, warm


def line(e):
    return json.dumps(e, separators=(",", ":"))


def build(workload, seed, rate, nominal_s, backlog_s, warm_events, active):
    """Returns (warm_files, timed_files, due) where each file is
    (due_offset_ns, phase, text): backlog files first (offset 0), then the
    nominal files with offsets from the nominal schedule's start. `due`
    maps each nominal commit's scn to its due offset."""
    rnd = random.Random("%s:%d" % (workload, seed))
    n_timed = int((nominal_s + backlog_s) * rate)
    if workload == "cdc_short":
        evs = gen_short(rnd, warm_events + n_timed, -10**9, rate)
        # warm-up: the first whole transactions totalling >= warm_events
        w = 0
        while w < len(evs) and (w < warm_events or evs[w]["op"] != "BEGIN"):
            w += 1
        # re-clock the timed part so the schedule starts at offset 0
        shift = evs[w]["tm"] - FEED_EPOCH_NS if w < len(evs) else 0
        for e in evs[w:]:
            e["tm"] -= shift
        warm, timed = evs[:w], evs[w:]
    else:
        evs, w = gen_straddle(rnd, n_timed, 0, rate, active)
        warm, timed = evs[:w], evs[w:]
    warm_files = [(0, "warm", "".join(line(e) + "\n" for e in warm[k:k + 2000]))
                  for k in range(0, len(warm), 2000)]
    backlog_ns = int(backlog_s * 1e9)
    files, cur, cur_end, cur_max = [], [], None, 0
    due = {}

    def slice_end(off):
        if off < backlog_ns:
            b = BACKLOG_FILE_MS * 10**6
            return min((off // b + 1) * b, backlog_ns)
        n = NOMINAL_FILE_MS * 10**6
        return backlog_ns + ((off - backlog_ns) // n + 1) * n

    def close():
        if cur:
            # due when its slice ends (or its last event, if a short
            # transaction ran past it); backlog files are all due at once
            off = max(cur_end, cur_max)
            if off <= backlog_ns:
                files.append((0, "backlog", "".join(cur)))
            else:
                files.append((off - backlog_ns, "nominal", "".join(cur)))

    for e in timed:
        off = e["tm"] - FEED_EPOCH_NS
        end = slice_end(off)
        # a short transaction never straddles files: cut only before BEGIN
        if cur_end is None or (end != cur_end and (workload != "cdc_short" or e["op"] == "BEGIN")):
            close()
            cur, cur_end = [], end
        cur_max = max(cur_max, off)
        cur.append(line(e) + "\n")
        if e["op"] == "COMMIT" and off >= backlog_ns:
            due[e["scn"]] = off - backlog_ns
    close()
    return warm_files, files, due


def timed_name(k):
    return "f%05d.jsonl" % k


def feed_names(warm, files):
    """(file name, text) of the warm-up files, then of the timed ones."""
    return ([("w%05d.jsonl" % k, t) for k, (_, _, t) in enumerate(warm)] +
            [(timed_name(k), t) for k, (_, _, t) in enumerate(files)])


def check_contract(texts):
    """Per-XID SCNs strictly increase, every op SCN is below its commit SCN,
    each XID begins once and ends at most once. Returns a list of errors."""
    errs = []
    last, ended, began = {}, set(), set()
    for text in texts:
        for ln in text.splitlines():
            e = json.loads(ln)
            x = e["xid"]
            if x in ended:
                errs.append("event after end of %s" % x)
            if x in last and e["scn"] <= last[x]:
                errs.append("scn not increasing in %s" % x)
            last[x] = e["scn"]
            if e["op"] == "BEGIN":
                if x in began:
                    errs.append("xid %s reused" % x)
                began.add(x)
            elif x not in began:
                errs.append("%s before BEGIN in %s" % (e["op"], x))
            if e["op"] in ("COMMIT", "ROLLBACK"):
                ended.add(x)
    return errs


def publish(feed_dir, tmp_dir, name, text, state):
    tmp = os.path.join(tmp_dir, name)
    with open(tmp, "w") as fh:
        fh.write(text)
    # strictly increasing mtimes (ms resolution) keep file-source order
    m = max(time.time_ns() // 10**6, state["mtime_ms"] + 1)
    state["mtime_ms"] = m
    os.utime(tmp, ns=(m * 10**6, m * 10**6))
    os.rename(tmp, os.path.join(feed_dir, name))


def signal(rd, name, text):
    """Atomically create a handshake file in the run directory."""
    with open(os.path.join(rd, name + ".tmp"), "w") as fh:
        fh.write(text)
    os.rename(os.path.join(rd, name + ".tmp"), os.path.join(rd, name))


def wait_for(rd, name):
    """Wait for the benchmark's handshake file; exit if it aborted."""
    path = os.path.join(rd, name)
    while not os.path.exists(path):
        if os.path.exists(os.path.join(rd, "abort")):
            sys.exit(0)
        time.sleep(0.005)
    with open(path) as fh:
        return fh.read().strip()


def selftest():
    ok = True
    for wl in ("cdc_short", "cdc_straddle"):
        kw = dict(rate=2000, nominal_s=2, backlog_s=2, warm_events=500, active=40)
        a = build(wl, 7, **kw)
        b = build(wl, 7, **kw)
        c = build(wl, 8, **kw)
        digest = lambda r: hashlib.sha256("".join(t for _, _, t in r[0] + r[1]).encode()).hexdigest()
        same = digest(a) == digest(b)
        differs = digest(a) != digest(c)
        errs = check_contract([t for _, _, t in a[0] + a[1]])
        n = sum(t.count("\n") for _, _, t in a[0] + a[1])
        print("selftest %s: events=%d commits=%d deterministic=%s seed_sensitive=%s contract_errors=%d"
              % (wl, n, len(a[2]), same, differs, len(errs)))
        ok = ok and same and differs and not errs and len(a[2]) > 0
    return ok


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--selftest", action="store_true")
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int)
    ap.add_argument("--run-dir")
    ap.add_argument("--rate", type=float)
    ap.add_argument("--nominal-s", type=float)
    ap.add_argument("--backlog-s", type=float)
    ap.add_argument("--warm-events", type=int)
    ap.add_argument("--active", type=int, default=0)
    a = ap.parse_args()
    if a.selftest:
        sys.exit(0 if selftest() else 1)

    warm, files, due = build(a.workload, a.seed, a.rate, a.nominal_s, a.backlog_s,
                             a.warm_events, a.active)
    errs = check_contract([t for _, _, t in warm + files])
    rd = a.run_dir
    with open(os.path.join(rd, "dict.json"), "w") as fh:
        json.dump(tables(), fh)
    with open(os.path.join(rd, "due.tsv"), "w") as fh:
        fh.writelines("%d\t%d\n" % kv for kv in sorted(due.items()))
    digest = hashlib.sha256()
    for _, _, t in warm + files:
        digest.update(t.encode())
    state = {"mtime_ms": 0}
    tmp_dir = os.path.join(rd, "staging")
    os.makedirs(tmp_dir, exist_ok=True)
    for s in range(SETUPS):
        fd = os.path.join(rd, "feed%d" % s)
        os.makedirs(fd, exist_ok=True)
        for name, text in feed_names(warm, []):
            publish(fd, tmp_dir, name, text, state)
    final = os.path.join(rd, "feed%d" % (SETUPS - 1))
    # the whole feed, under the names it gets in the final feed directory,
    # for the batch replay that runs before the nominal phase
    replay = os.path.join(rd, "replay")
    os.makedirs(replay)
    for name, text in feed_names(warm, files):
        with open(os.path.join(replay, name), "w") as fh:
            fh.write(text)
    n_events = sum(t.count("\n") for _, _, t in warm + files)
    signal(rd, "gen_ready", json.dumps({"contract_errors": errs[:5],
                                        "n_contract_errors": len(errs),
                                        "setups": SETUPS,
                                        "nominal_s": a.nominal_s,
                                        "events": n_events}))

    wait_for(rd, "drain")
    backlog_start = time.time_ns()
    t0 = late_max = 0
    for k, (off, phase, text) in enumerate(files):
        if phase == "nominal" and not t0:
            # the nominal schedule starts once the benchmark has drained
            # the backlog (`go`), so the two phases do not overlap
            backlog_end = time.time_ns()
            signal(rd, "backlog_done", json.dumps({"backlog_start_ns": backlog_start,
                                                   "backlog_end_ns": backlog_end}))
            t0 = int(wait_for(rd, "go"))
        if phase == "nominal":
            now = time.time_ns()
            if t0 + off > now:
                time.sleep((t0 + off - now) / 1e9)
        publish(final, tmp_dir, timed_name(k), text, state)
        if phase == "nominal":
            late_max = max(late_max, time.time_ns() - (t0 + off))
    out = {
        "events": n_events,
        "warm_events": sum(t.count("\n") for _, _, t in warm),
        "nominal_events": sum(t.count("\n") for _, p, t in files if p == "nominal"),
        "backlog_events": sum(t.count("\n") for _, p, t in files if p == "backlog"),
        "nominal_files": sum(1 for f in files if f[1] == "nominal"),
        "backlog_files": sum(1 for f in files if f[1] == "backlog"),
        "bytes": sum(len(t) for _, _, t in warm + files),
        "commits_due": len(due),
        "late_ms_max": late_max / 1e6,
        "backlog_start_ns": backlog_start,
        "backlog_end_ns": backlog_end,
        "sha256": digest.hexdigest(),
    }
    signal(rd, "gen_done.json", json.dumps(out))


if __name__ == "__main__":
    main()
