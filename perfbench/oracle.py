"""Independent KPI and report oracle.

Replays the reference's `calcular_kpi` semantics in NumPy: null guard,
endpoint base (query string stripped, `/status/*` and `/basic-auth/*`
collapsed), lenient casts that force parse_result to "error", then per
(date, endpoint) counts, `np.mean` over the values in scan order and
`np.percentile(..., 90)` (linear), both rounded with CPython's `round`.
The report oracle replays `generar_reporte` on the expected KPI rows.
"""
import glob
import os
import re
import struct

import numpy as np

UMBRAL_P90 = 300.0


def endpoint_base(e):
    nq = e.split("?", 1)[0]
    if nq.startswith("/status/"):
        return "/status"
    if nq.startswith("/basic-auth/"):
        return "/basic-auth"
    return nq


def kpi_from_rows(rows):
    """Expected KPI rows for raw string rows (timestamp_utc, endpoint,
    status_code, elapsed_ms, parse_result), in file order."""
    groups = {}
    for ts, ep, st, el, pr in rows:
        if ts is None or ep is None:
            continue
        if not re.fullmatch(r"\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}Z", ts):
            raise ValueError(f"bad timestamp {ts!r}")
        failed = False
        try:
            status = int(st) if st is not None else 0
        except ValueError:
            status, failed = 0, True
        try:
            value = float(el) if el is not None else 0.0
        except ValueError:
            value, failed = 0.0, True
        err = failed or pr is None or pr != "ok"
        g = groups.setdefault((ts[:10], endpoint_base(ep)), [[], 0, 0, 0, 0])
        g[0].append(value)
        g[1] += 200 <= status <= 299
        g[2] += 400 <= status <= 499
        g[3] += 500 <= status <= 599
        g[4] += err
    out = []
    for (d, b) in sorted(groups):
        vals, a, c, s, e = groups[(d, b)]
        out.append((d, b, len(vals), a, c, s, e,
                    round(float(np.mean(vals)), 2), round(float(np.percentile(vals, 90)), 2)))
    return out


def report_from_kpi(kpi):
    """Expected report cards and endpoint table (generar_reporte)."""
    total = sum(r[2] for r in kpi)
    ok = sum(r[3] for r in kpi)
    err = sum(r[4] + r[5] for r in kpi)
    cards = {
        "total_requests": total,
        "pct_2xx": round(ok * 100.0 / total, 2) if total else 0.0,
        "pct_err": round(err * 100.0 / total, 2) if total else 0.0,
        "p90_global": round(float(np.percentile([r[8] for r in kpi], 90)), 2),
    }
    by = {}
    for r in kpi:
        g = by.setdefault(r[1], [0, 0, 0, 0, 0.0, 0.0])
        g[0] += r[2]
        g[1] += r[3]
        g[2] += r[4] + r[5]
        g[4] += r[7] * r[2]
        g[5] += r[8] * r[2]
    rows = []
    for ep, (w, ok2, er, _, aw, pw) in by.items():
        p90w = pw / max(w, 1)
        rows.append((ep, w, round(ok2 * 100.0 / w, 2), round(er * 100.0 / w, 2),
                     round(aw / max(w, 1), 2), round(p90w, 2), p90w))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return cards, rows


def _close(a, b):
    # the report renders weighted means with 2 decimals; a one-ulp
    # difference in a double sum can move the last printed cent
    return abs(a - b) <= 0.0100001


def check_kpi_csv(kpi_dir, expected):
    parts = sorted(glob.glob(os.path.join(kpi_dir, "part-*.csv")))
    if len(parts) != 1:
        return f"expected one KPI CSV part, found {len(parts)}"
    with open(parts[0], encoding="utf-8") as fh:
        lines = fh.read().splitlines()
    header = ("date_utc,endpoint_base,requests_total,success_2xx,client_4xx,"
              "server_5xx,parse_errors,avg_elapsed_ms,p90_elapsed_ms")
    if not lines or lines[0] != header:
        return f"bad KPI header {lines[:1]}"
    if len(lines) - 1 != len(expected):
        return f"KPI rows {len(lines) - 1} != expected {len(expected)}"
    for i, (line, want) in enumerate(zip(lines[1:], expected)):
        f = line.split(",")
        got = (f[0], f[1], *map(int, f[2:7]), float(f[7]), float(f[8]))
        if got != tuple(want):
            return f"KPI row {i}: got {got} expected {tuple(want)}"
    return None


_CARD = {
    "total_requests": r"<h3>Total requests</h3><p>(\d+)</p>",
    "pct_2xx": r"<h3>% 2xx</h3><p>([-\d.]+)%</p>",
    "pct_err": r"<h3>% error</h3><p>([-\d.]+)%</p>",
    "p90_global": r"<h3>p90 global \(aprox\)</h3><p>([-\d.]+) ms</p>",
}
_ROW = re.compile(r'<tr data-alerta="(SI|NO)">\n<td>(.*?)</td>\n<td>(\d+)</td>\n'
                  r"<td>([-\d.]+)</td>\n<td>([-\d.]+)</td>\n<td>([-\d.]+)</td>\n"
                  r"<td>([-\d.]+)</td>\n<td>(SI|NO)</td>\n</tr>")


def check_report(html_path, expected):
    cards, rows = expected
    with open(html_path, encoding="utf-8") as fh:
        html = fh.read()
    for k, pat in _CARD.items():
        m = re.search(pat, html)
        if not m:
            return f"report card {k} missing"
        v = float(m.group(1))
        if (v != cards[k]) if k == "total_requests" else not _close(v, cards[k]):
            return f"report card {k}: got {v} expected {cards[k]}"
    got = _ROW.findall(html)
    if len(got) != len(rows):
        return f"report rows {len(got)} != expected {len(rows)}"
    for i, (g, w) in enumerate(zip(got, rows)):
        ep = g[1].replace("&lt;", "<").replace("&gt;", ">").replace("&quot;", '"') \
            .replace("&amp;", "&")
        if ep != w[0] or int(g[2]) != w[1]:
            return f"report row {i}: got {ep} {g[2]} expected {w[0]} {w[1]}"
        for col, want in zip(g[3:7], w[2:6]):
            if not _close(float(col), want):
                return f"report row {i} ({ep}): got {g[3:7]} expected {w[2:6]}"
        alert = "SI" if w[5] > UMBRAL_P90 else "NO"
        if g[0] != g[7] or (g[0] != alert and not _close(w[6], UMBRAL_P90)):
            return f"report row {i} ({ep}): alerta {g[0]} expected {alert}"
    for png in ("requests_por_endpoint.png", "p90_por_endpoint.png"):
        err = check_png(os.path.join(os.path.dirname(html_path), png))
        if err:
            return err
    return None


def check_png(path):
    try:
        with open(path, "rb") as fh:
            head = fh.read(24)
    except OSError:
        return f"missing chart {os.path.basename(path)}"
    if head[:8] != b"\x89PNG\r\n\x1a\n" or head[12:16] != b"IHDR":
        return f"{os.path.basename(path)} is not a PNG"
    if struct.unpack(">II", head[16:24]) != (960, 720):
        return f"{os.path.basename(path)} is not 960x720"
    return None
