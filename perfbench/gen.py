#!/usr/bin/env python3
"""Open-loop traffic generator for the four reference streaming jobs.

Writes timestamped files of raw log lines into one directory per job
(`register`, `qz`, `page`, `raw`), the "text" transport of
`graft.sources.StreamSources`. Every file is written under a hidden
temporary name and renamed into place, so the file source never lists a
partial file. The file name carries the time the file was due:

    <job>-<seq>-<due_epoch_ms>.txt

Modes:
  live     one file per job every PERIOD_S on a fixed wall-clock schedule
           starting at --start-ms, for --seconds. The schedule never adapts
           to the system under test: a late write is made at once and its
           lateness is logged.
  backlog  the same traffic for --seconds, written at once (a backlog).
  history  the catch-up state: qz lines covering HISTORY_KEYS distinct
           (uid, course, point) keys with users drawn Zipf(1.0), plus one
           period of traffic for the other jobs.
  warm     one small file per job.

Lines are a pure function of --seed (and the mode's shape arguments).
A log of every file (job, name, due, written, lines, malformed) is written
as JSON to --log.

Usage: gen.py --mode live --dir D --seed N --seconds S --start-ms T --log F
"""
import argparse
import bisect
import json
import os
import random
import time

PERIOD_S = 0.5
# BASELINE.md ingest caps, records per second
RATES = {"register": 1000, "qz": 1000, "page": 300, "raw": 200}
JOBS = tuple(RATES)
LATE_SHARE = 0.02      # events whose event time is up to 60 s in the past
LATE_MAX_S = 60.0
MALFORMED_SHARE = 0.005
PAGES = 20
# 1,000 uniform qz keys: 100 users x 2 courses x 5 points
LIVE_KEYS = [(u, c, p) for u in range(1, 101) for c in (1, 2)
             for p in range(1, 6)]
# distinct J2 keys in the catch-up state
HISTORY_KEYS = 50_000
# event-time origin; every mode's traffic crosses this midnight
MIDNIGHT_S = 1792454400  # 2026-10-20 00:00:00 UTC


def fmt_ts(sec):
    return time.strftime("%Y-%m-%d %H:%M:%S", time.gmtime(int(sec)))


def event_time(rng, sec):
    if rng.random() < LATE_SHARE:
        return sec - rng.uniform(0.0, LATE_MAX_S)
    return sec + rng.uniform(0.0, PERIOD_S)


def malformed(rng, job):
    """A line the job's parser drops (the raw archive keeps every line,
    filing an unparseable one under dt=unknown)."""
    kind = rng.randrange(2)
    if job == "register":
        return "17\t1" if kind == 0 else "x17\t1\t2026-10-19 23:59:59"
    if job == "qz":
        return "5\t1\t2\t3\t1" if kind == 0 else "u5\t1\t2\t3\t1\t2026-10-19"
    if job == "page":
        return '{"uid":"9","page_id":' if kind == 0 else "not json"
    return "??\tqz_log\tbroken" if kind == 0 else ""


def line(rng, job, sec, key=None):
    ts = fmt_ts(event_time(rng, sec))
    if job == "register":
        return f"{rng.randrange(1, 1_000_000)}\t{rng.randrange(1, 4)}\t{ts}"
    if job == "qz":
        u, c, p = key or rng.choice(LIVE_KEYS)
        return f"{u}\t{c}\t{p}\t{rng.randrange(1, 31)}\t{rng.randrange(2)}\t{ts}"
    if job == "page":
        last, page = rng.randrange(1, PAGES + 1), rng.randrange(1, PAGES + 1)
        nxt = rng.randrange(1, PAGES + 1)
        return (f'{{"uid":"{rng.randrange(1, 5000)}","app_id":"1",'
                f'"device_id":"d-{rng.randrange(100)}","ip":"10.0.0.1",'
                f'"last_page_id":"{last}","page_id":"{page}",'
                f'"next_page_id":"{nxt}"}}')
    topic = rng.choice(("register_topic", "qz_log", "page_topic"))
    return f"{ts}\t{topic}\tpayload-{rng.randrange(1_000_000)}"


def lines_for(rng, job, n, sec, keys=None):
    out, bad = [], 0
    for i in range(n):
        if rng.random() < MALFORMED_SHARE:
            out.append(malformed(rng, job))
            bad += 1
        else:
            out.append(line(rng, job, sec, keys[i] if keys else None))
    return out, bad


def write_file(root, job, seq, due_ms, lines):
    name = f"{job}-{seq:06d}-{due_ms}.txt"
    tmp = os.path.join(root, job, f".{name}.tmp")
    with open(tmp, "w") as f:
        f.write("\n".join(lines) + "\n")
    os.rename(tmp, os.path.join(root, job, name))
    return name


def zipf_keys(rng, n_keys, users=100_000):
    """n_keys distinct (uid, course, point) keys, uid ~ Zipf(1.0)."""
    cum, acc = [], 0.0
    for r in range(1, users + 1):
        acc += 1.0 / r
        cum.append(acc)
    seen, order = set(), []
    while len(order) < n_keys:
        uid = bisect.bisect_left(cum, rng.random() * acc) + 1
        k = (uid, rng.randrange(1, 11), rng.randrange(1, 31))
        if k not in seen:
            seen.add(k)
            order.append(k)
    return order


def run(mode, root, seed, seconds, start_ms, tag):
    rng = random.Random(f"{seed}-{mode}-{tag}")
    for job in JOBS:
        os.makedirs(os.path.join(root, job), exist_ok=True)
    log = []

    def emit(job, seq, due_ms, n, sec, keys=None):
        ls, bad = lines_for(rng, job, n, sec, keys)
        name = write_file(root, job, seq, due_ms, ls)
        log.append({"job": job, "name": name, "due_ms": due_ms,
                    "written_ms": time.time() * 1000.0, "lines": n,
                    "malformed": bad})

    if mode == "warm":
        for job in JOBS:
            emit(job, 0, start_ms, 20, MIDNIGHT_S - 3600)
        return log
    if mode == "history":
        keys = zipf_keys(rng, HISTORY_KEYS)
        emit("qz", 0, start_ms, len(keys), MIDNIGHT_S - 86400, keys)
        for job in ("register", "page", "raw"):
            emit(job, 0, start_ms, int(RATES[job] * PERIOD_S),
                 MIDNIGHT_S - 86400)
        return log
    files = int(round(seconds / PERIOD_S))
    # event time runs from half the traffic before midnight to half after
    ev0 = MIDNIGHT_S - seconds / 2.0
    for k in range(files):
        due_ms = start_ms + int(k * PERIOD_S * 1000)
        if mode == "live":
            wait = due_ms / 1000.0 - time.time()
            if wait > 0:
                time.sleep(wait)
        for job in JOBS:
            emit(job, k + 1, due_ms, int(RATES[job] * PERIOD_S),
                 ev0 + k * PERIOD_S)
    return log


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--mode", required=True,
                    choices=("live", "backlog", "history", "warm"))
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=0.0)
    ap.add_argument("--start-ms", type=int, required=True)
    ap.add_argument("--tag", default="")
    ap.add_argument("--log", required=True)
    a = ap.parse_args()
    log = run(a.mode, a.dir, a.seed, a.seconds, a.start_ms, a.tag)
    with open(a.log, "w") as f:
        json.dump(log, f)


if __name__ == "__main__":
    main()
