"""Single-process golden and the committed-table check.

The golden is ``extract_one`` run in this process on every input payload:
the engine's parsers are pure functions, so the job must commit exactly
these ``(text, spans, kind, ok)`` values, once per url. Timing each call
here also gives the parsers' single-core rates.
"""

from __future__ import annotations

import os
import time

import pyarrow.parquet as pq

from pdf_extractor_spark.extract.udfs import extract_one


def _spans(spans) -> tuple:
    return tuple((s["start"], s["end"]) for s in spans or ())


def run_golden(input_dir: str) -> tuple[dict, dict, dict]:
    """-> ({url: (text, spans, kind, ok)}, {kind: {docs, s, bytes}},
    {url: payload bytes})."""
    files = sorted(f for f in os.listdir(input_dir) if f.endswith(".parquet"))
    golden: dict[str, tuple] = {}
    stats: dict[str, dict] = {}
    sizes: dict[str, int] = {}
    clock = time.perf_counter
    for name in files:
        table = pq.read_table(os.path.join(input_dir, name), columns=["url", "html"])
        for url, payload in zip(table.column("url").to_pylist(), table.column("html").to_pylist()):
            t0 = clock()
            text, spans, _n, kind, ok, _err = extract_one(payload)
            dt = clock() - t0
            golden[url] = (text, _spans(spans), kind, ok)
            sizes[url] = len(payload or b"")
            st = stats.setdefault(kind, {"docs": 0, "s": 0.0, "bytes": 0})
            st["docs"] += 1
            st["s"] += dt
            st["bytes"] += sizes[url]
    return golden, stats, sizes


def count_failures(rows: list[tuple], golden: dict, others: frozenset = frozenset()) -> int:
    """Docs missing, duplicated or differing from the golden.

    ``rows`` are committed ``(url, text, spans, kind, ok)`` tuples. A url
    committed twice fails, as does a committed url that is neither in the
    golden nor in ``others`` (urls committed before the job), and an url
    of ``others`` that is no longer committed."""
    seen: set[str] = set()
    bad: set[str] = set()
    for url, text, spans, kind, ok in rows:
        if url in seen:
            bad.add(url)
            continue
        seen.add(url)
        want = golden.get(url)
        if want is None:
            if url not in others:
                bad.add(url)
        elif (text, _spans(spans), kind, ok) != want:
            bad.add(url)
    bad.update(u for u in golden if u not in seen)
    bad.update(u for u in others if u not in seen)
    return len(bad)


def check_detects_faults(rows: list[tuple], golden: dict, others: frozenset) -> bool:
    """The check is not vacuous: dropping one golden row and altering
    another must each add a failure."""
    idx = [i for i, r in enumerate(rows) if r[0] in golden]
    if len(idx) < 2:
        return False
    base = count_failures(rows, golden, others)
    dropped = rows[: idx[0]] + rows[idx[0] + 1 :]
    url, text, spans, kind, ok = rows[idx[1]]
    altered = list(rows)
    altered[idx[1]] = (url, text + " ", spans, kind, ok)
    return (
        count_failures(dropped, golden, others) == base + 1
        and count_failures(altered, golden, others) == base + 1
    )
