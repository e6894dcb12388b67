"""Self-test: wrong outputs and wrong expectations must be caught.

    python3 perfbench/selftest.py          # checks, then one corrupted run per workload
    python3 perfbench/selftest.py --fast   # the checks only, no Spark

Part one feeds the output checks a correct result and then single
deliberate errors (a count, a histogram bucket, the top-20 order, an ID
error, a missing keeper, a false near-duplicate pair, lost recall); each
error must be reported.  Part two runs the benchmark with ``--corrupt``,
which checks every operation against a wrong expectation: every
operation must be counted as failed and the run marked incorrect.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import tempfile

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen  # noqa: E402


def _edit(report: dict, fn) -> dict:
    copy = json.loads(json.dumps(report))
    fn(copy)
    return copy


def _as_json(expected: dict) -> str:
    """The expected report in the form report_to_json writes it: top-k
    breakdowns as value -> count objects."""
    bd = dict(expected["breakdowns"])
    for k in checks.TOP_K_KEYS:
        bd[k] = dict(bd[k])
    return json.dumps(dict(expected, breakdowns=bd))


def _swap_top(r):
    top = r["breakdowns"]["scientificName"]
    top[0], top[1] = top[1], top[0]


def check_the_checks(tmp: str) -> list[str]:
    """Returns the errors that went unnoticed (empty when all caught)."""
    rng = np.random.default_rng(7)
    bank = gen.Bank(rng, n_names=200, n_families=20)
    _, expected = gen.write_occurrence_archive(
        os.path.join(tmp, "a"), rng, bank, 3000, "t", dirty=True)
    missed = []
    if checks.check_report(_as_json(expected), expected):
        missed.append("a correct report was flagged")
    wrong = {
        "record count": lambda r: r["core"].__setitem__("record_count", 2999),
        "vocabulary count": lambda r: r["core"]["vocab_reports"][0].__setitem__(
            "recognised_count", r["core"]["vocab_reports"][0]["recognised_count"] - 1),
        "invalid coordinates": lambda r: r["core"]["coordinates_report"].__setitem__(
            "invalid_decimal_latitude_count", 0),
        "ID error": lambda r: r["core"].__setitem__("errors", []),
        "column count": lambda r: r["core"]["column_counts"].__setitem__("family", 0),
        "year histogram": lambda r: r["breakdowns"]["year"].popitem(),
        "top-20 order": _swap_top,
    }
    for what, fn in wrong.items():
        if not checks.check_report(_as_json(_edit(expected, fn)), expected):
            missed.append(what)

    path = os.path.join(tmp, "c", "corpus.parquet")
    keepers, planted = gen.write_corpus(path, rng, 300)
    import pyarrow.parquet as pq

    t = pq.read_table(path).to_pydict()
    texts = dict(zip(t["doc_id"], t["text"]))
    exp = {"keepers": keepers, "planted_pairs": planted}
    good_pairs = [(a, b, 1.0) for a, b in planted]
    if checks.check_dedup(keepers, good_pairs, texts, exp, 0.7):
        missed.append("a correct dedup result was flagged")
    unrelated = next((a, b) for a in texts for b in texts
                     if a < b and gen.jaccard(texts[a], texts[b]) < 0.7)
    dedup_wrong = {
        "missing keeper": (keepers[:-1], good_pairs),
        "false near-duplicate pair": (keepers, good_pairs + [(*unrelated, 0.9)]),
        "lost recall": (keepers, good_pairs[: len(good_pairs) // 2]),
    }
    for what, (k, p) in dedup_wrong.items():
        if not checks.check_dedup(k, p, texts, exp, 0.7):
            missed.append(what)
    for what in ("archive", "corpus"):
        e = expected if what == "archive" else exp
        if checks.corrupt(e) == e:
            missed.append(f"corrupt() left the {what} expectation unchanged")
    return missed


def corrupted_runs() -> list[str]:
    """Runs each workload against a wrong expectation; every operation
    must count as failed."""
    import workloads

    missed = []
    for name in sorted(workloads.WORKLOADS):
        out = subprocess.run(
            [sys.executable, os.path.join(HERE, "run.py"), "--workload", name,
             "--seed", "1", "--seconds", "1", "--trace", "0", "--corrupt"],
            capture_output=True, text=True, timeout=300, check=True)
        result = json.loads(out.stdout.strip().splitlines()[-1])
        print(f"{name}: correct={result['correct']} attempted={result['attempted']} "
              f"failed={result['failed']}")
        if result["correct"] or result["failed"] != result["attempted"]:
            missed.append(f"{name}: a wrong expectation was not counted as failed")
    return missed


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--fast", action="store_true", help="skip the corrupted runs")
    args = ap.parse_args()
    work = os.path.join(os.path.dirname(HERE), ".perfbench_work")
    os.makedirs(work, exist_ok=True)
    with tempfile.TemporaryDirectory(dir=work) as tmp:
        missed = check_the_checks(tmp)
    print(f"output checks: {'all errors caught' if not missed else missed}")
    if not args.fast:
        missed += corrupted_runs()
    print("selftest", "FAILED: " + "; ".join(missed) if missed else "passed")
    return 1 if missed else 0


if __name__ == "__main__":
    sys.exit(main())
