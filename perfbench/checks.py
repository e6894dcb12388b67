"""Output checks: compare what the program returned with the
generator's expectation.  Every check returns a list of mismatch
descriptions; an empty list means the output is correct."""

from __future__ import annotations

import json

from gen import jaccard

TOP_K_KEYS = ("scientificName", "family")
# Fraction of planted duplicate pairs the near-duplicate search must find.
MIN_RECALL = 0.9


def _diff(path: str, want, got, out: list[str]) -> None:
    if isinstance(want, dict) and isinstance(got, dict):
        for k in sorted(set(want) | set(got)):
            if k not in got:
                out.append(f"{path}.{k}: missing")
            elif k not in want:
                out.append(f"{path}.{k}: unexpected")
            else:
                _diff(f"{path}.{k}", want[k], got[k], out)
    elif isinstance(want, list) and isinstance(got, list) and len(want) == len(got):
        for i, (w, g) in enumerate(zip(want, got)):
            _diff(f"{path}[{i}]", w, g, out)
    elif want != got:
        out.append(f"{path}: want {json.dumps(want)[:120]} got {json.dumps(got)[:120]}")


def _normalise(report: dict) -> dict:
    """Top-k breakdowns as ordered [value, count] pairs, the form the
    generator writes, so their order is checked too."""
    bd = dict(report.get("breakdowns", {}))
    for k in TOP_K_KEYS:
        if isinstance(bd.get(k), dict):
            bd[k] = [[v, c] for v, c in bd[k].items()]
    return dict(report, breakdowns=bd)


def check_report(report_json: str, expected: dict) -> list[str]:
    """A DwC-A report (the JSON text ``report_to_json`` returned) against
    the expected report, field by field."""
    out: list[str] = []
    _diff("report", expected, _normalise(json.loads(report_json)), out)
    return out


def check_df_report(report: dict, expected: dict) -> list[str]:
    out: list[str] = []
    _diff("report", expected, report, out)
    return out


def check_dedup(keeper_ids: list[int], pairs: list[tuple[int, int, float]],
                texts: dict[int, str], expected: dict, threshold: float) -> list[str]:
    """Exact keepers must equal the expected set; every near-duplicate
    pair must have true word-bigram Jaccard >= threshold; the planted
    pairs must be recalled at MIN_RECALL or better."""
    out: list[str] = []
    want = expected["keepers"]
    if sorted(keeper_ids) != want:
        out.append(f"keepers: want {len(want)} ids got {len(keeper_ids)} "
                   f"(symmetric difference {len(set(want) ^ set(keeper_ids))})")
    found = set()
    for a, b, _ in pairs:
        a, b = min(a, b), max(a, b)
        found.add((a, b))
        if jaccard(texts[a], texts[b]) < threshold:
            out.append(f"pair ({a}, {b}): true Jaccard below {threshold}")
    planted = {(min(a, b), max(a, b)) for a, b in expected["planted_pairs"]}
    recall = len(planted & found) / len(planted) if planted else 1.0
    if recall < MIN_RECALL:
        out.append(f"recall {recall:.3f} of {len(planted)} planted pairs < {MIN_RECALL}")
    return out


def corrupt(expected: dict) -> dict:
    """A deliberately wrong copy of an expectation (one count off, or
    one keeper missing), for the self-test: every operation checked
    against it must count as failed."""
    wrong = json.loads(json.dumps(expected))
    if "core" in wrong:
        wrong["core"]["record_count"] += 1
    elif "keepers" in wrong:
        wrong["keepers"] = wrong["keepers"][:-1]
    else:
        wrong["record_count"] += 1
    return wrong
