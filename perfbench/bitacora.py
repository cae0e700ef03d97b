"""Seeded bitácora (HTTP call log) generator owned by the benchmark.

Independent of the program's own generator, so a program change can never
change the benchmark's inputs. The `deep` shape is the reference
distribution (7 endpoints, trailing 3-day window): few groups with many
values each, plus a few rows the KPI stage must drop (null endpoint) or
cast leniently (status "n/a").

A log is held columnar (`Log`) and written as JSONL, one compact object
per line, like the reference's `generar_datos.py`.
"""
import hashlib
from dataclasses import dataclass

import numpy as np

REFERENCE_ENDPOINTS = ["/get", "/post", "/status/403", "/basic-auth",
                       "/cookies", "/xml", "/html"]
# fixed window end, off midnight, so a 3-day window spans 4 dates
END_EPOCH_S = 1709471821  # 2024-03-03T13:17:01Z
STATUS_4XX = np.array([400, 401, 404, 429])
STATUS_5XX = np.array([500, 502, 503])


@dataclass
class Log:
    ts: np.ndarray          # epoch seconds, int64
    ep_code: np.ndarray     # index into ep_table; -1 is a null endpoint
    ep_table: list          # raw endpoint strings
    status: np.ndarray      # int status code; -1 is the string "n/a"
    cents: np.ndarray       # elapsed_ms in hundredths
    pr_code: np.ndarray     # 0 "ok", 1 "error"

    def __len__(self):
        return len(self.ts)


def deep(seed, n):
    """/status/403 always answers 403; otherwise 88% 200, 8% 4xx, 4% 5xx;
    elapsed uniform in [50, 800] ms with 2 decimals; 5% parse errors;
    0.5% null endpoints and 0.5% "n/a" statuses."""
    rng = np.random.default_rng([seed, 1])
    ep = rng.integers(0, len(REFERENCE_ENDPOINTS), n)
    ts = END_EPOCH_S - rng.integers(0, 3 * 86400, n)
    tier = rng.random(n)
    pick = rng.random(n)
    status = np.where(tier < 0.88, 200,
                      np.where(tier < 0.96, STATUS_4XX[(pick * 4).astype(int)],
                               STATUS_5XX[(pick * 3).astype(int)]))
    status = np.where(ep == REFERENCE_ENDPOINTS.index("/status/403"), 403, status)
    cents = rng.integers(5000, 80001, n)
    pr = (rng.random(n) < 0.05).astype(np.int8)
    ep = np.where(rng.random(n) < 0.005, -1, ep)
    status = np.where(rng.random(n) < 0.005, -1, status)
    return Log(ts.astype(np.int64), ep.astype(np.int32), list(REFERENCE_ENDPOINTS),
               status, cents, pr)


def jsonl_lines(log):
    """Yield the log's JSONL text in chunks."""
    ts_txt = np.datetime_as_string(log.ts.astype("datetime64[s]"), unit="s")
    eps = [f'"{e}"' for e in log.ep_table]
    prs = ['"ok"', '"error"']
    chunk = 200_000
    for lo in range(0, len(log), chunk):
        hi = min(lo + chunk, len(log))
        out = []
        for t, e, s, c, p in zip(ts_txt[lo:hi], log.ep_code[lo:hi].tolist(),
                                 log.status[lo:hi].tolist(), log.cents[lo:hi].tolist(),
                                 log.pr_code[lo:hi].tolist()):
            e = eps[e] if e >= 0 else "null"
            s = s if s >= 0 else '"n/a"'
            out.append(f'{{"timestamp_utc":"{t}Z","endpoint":{e},"status_code":{s},'
                       f'"elapsed_ms":{c // 100}.{c % 100:02d},"parse_result":{prs[p]}}}\n')
        yield "".join(out)


def write_jsonl(log, path):
    """Write the log and return the sha256 of the bytes written."""
    h = hashlib.sha256()
    with open(path, "w", encoding="utf-8") as fh:
        for text in jsonl_lines(log):
            fh.write(text)
            h.update(text.encode("utf-8"))
    return h.hexdigest()


def read_jsonl(paths):
    """Parse JSONL files (e.g. the CLI generator's output) into raw rows:
    (timestamp_utc, endpoint, status_code, elapsed_ms, parse_result), each
    a string or None, exactly as the KPI stage's all-string schema sees them."""
    import json
    rows = []
    for p in paths:
        with open(p, encoding="utf-8") as fh:
            for line in fh:
                if not line.strip():
                    continue
                o = json.loads(line)
                rows.append(tuple(None if o.get(k) is None else str(o.get(k))
                                  for k in ("timestamp_utc", "endpoint", "status_code",
                                            "elapsed_ms", "parse_result")))
    return rows
