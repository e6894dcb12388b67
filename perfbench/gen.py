"""Seeded input generator for the perfbench workloads.

Writes, under one output directory:

- Darwin Core Archives (``meta.xml`` plus tab-separated CSV), as a
  directory or a zip, with an Occurrence core or an Event core plus an
  Occurrence extension; dirty archives carry unrecognised vocabulary
  values, invalid coordinates and planted duplicate IDs, clean ones
  none of these;
- a document corpus with planted exact and near-duplicate documents;
- occurrence CSV files for the streaming workload.

Next to the inputs (never inside them) it writes ``expect/<name>.json``:
the report the validator must return, tallied from the generated values
themselves.  Nothing here imports the package under test.

    python3 perfbench/gen.py --workload archive_many_small --seed 1 --out DIR
"""

from __future__ import annotations

import argparse
import datetime as dt
import hashlib
import json
import os
import zipfile
from collections import Counter

import numpy as np

DWC = "http://rs.tdwg.org/dwc/terms/"
ROW_OCCURRENCE = DWC + "Occurrence"
ROW_EVENT = DWC + "Event"

# Controlled-vocabulary tokens as written to the CSV.  The *_OK lists are
# Darwin Core vocabulary members (in assorted letter case), the *_BAD
# lists are values a validator must report as unrecognised.
BASIS_OK = [
    "PreservedSpecimen", "HumanObservation", "MachineObservation",
    "Observation", "MaterialSample", "Occurrence", "FossilSpecimen",
    "LivingSpecimen", "humanobservation", "PRESERVEDSPECIMEN",
]
BASIS_BAD = [
    "Specimen", "humanobs", "Unknown", "FieldNote", "MachineObs", "Photo",
    "Sighting", "Literature", "Herbarium", "iNat", "nan",
    "preserved specimen",
]
DATUM_OK = [
    "WGS84", "wgs84", "NAD83", "GDA94", "EPSG:32755", "EPSG:28355",
    "ETRS89", "AGD66", "epsg:32601",
]
DATUM_BAD = [
    "EPSG:4326", "WGS-84", "GDA2020", "unknown", "epsg 4326", "NAD 83",
    "ITRF2014", "not recorded", "WGS 1984",
]
NON_NUMERIC = ["N/A", "unknown", "12.3S", "x", "see notes"]
UNPARSEABLE_DATES = ["unknown", "spring 2019", "n.d.", "circa 1900"]
COUNTRIES = ["AU", "NZ", "GB", "US", "BR", "ZA", "IN", "JP", "FR", "CA"]
PROTOCOLS = ["transect", "quadrat", "light trap", "camera trap", "point count"]

# Numeric Darwin Core terms in the order the report lists their
# NON_NUMERIC_VALUES_IN_<TERM> warnings (reference validator order).
NUMERIC_ORDER = ["decimalLatitude", "decimalLongitude", "individualCount",
                 "year", "month", "day"]
TAXONOMY = ["scientificName", "family", "kingdom"]
TEMPORAL = ["eventDate", "year", "month", "day"]

OCC_CORE = ["occurrenceID", "basisOfRecord", "scientificName", "family",
            "kingdom", "decimalLatitude", "decimalLongitude", "geodeticDatum",
            "eventDate", "year", "month", "day", "recordedBy", "country",
            "individualCount"]
EVENT_CORE = ["eventID", "eventDate", "year", "month", "day",
              "decimalLatitude", "decimalLongitude", "geodeticDatum",
              "samplingProtocol", "locality"]
OCC_EXT = ["occurrenceID", "basisOfRecord", "scientificName", "family",
           "kingdom", "recordedBy", "individualCount"]

DAY0 = dt.date(1950, 1, 1)
N_DAYS = (dt.date(2023, 12, 31) - DAY0).days + 1
_MON = ["Jan", "Feb", "Mar", "Apr", "May", "Jun", "Jul", "Aug", "Sep",
        "Oct", "Nov", "Dec"]
# eventDate renderings and their shares of the populated, parseable values
_DATE_FORMATS = [
    (lambda d: d.isoformat(), 0.45),
    (lambda d: f"{d.isoformat()}T{d.day % 24:02d}:{d.month * 3:02d}:07", 0.10),
    (lambda d: f"{d.month}/{d.day}/{d.year}", 0.15),
    (lambda d: d.strftime("%Y%m%d"), 0.10),
    (lambda d: f"{_MON[d.month - 1]} {d.day}, {d.year}", 0.08),
    (lambda d: f"{d.day} {_MON[d.month - 1]} {d.year}", 0.05),
    (lambda d: f"{d.year}/{d.month}/{d.day}", 0.07),
]


class Bank:
    """Value pools shared by every table generated from one seed."""

    def __init__(self, rng: np.random.Generator, n_names: int = 3000,
                 n_families: int = 150) -> None:
        syl = ["ab", "ac", "al", "an", "ar", "be", "ca", "ce", "ci", "do",
               "el", "er", "fa", "ga", "hi", "il", "is", "la", "li", "lo",
               "ma", "mi", "na", "ni", "no", "or", "pa", "pi", "ra", "ri",
               "ro", "sa", "si", "ta", "ti", "to", "un", "ur", "va", "xi"]

        def word(k: int) -> str:
            return "".join(syl[i] for i in rng.integers(0, len(syl), k))

        families: list[str] = []
        seen: set[str] = set()
        while len(families) < n_families:
            f = word(int(rng.integers(2, 4))).capitalize() + "idae"
            if f not in seen:
                seen.add(f)
                families.append(f)
        names: list[str] = []
        while len(names) < n_names:
            s = (word(int(rng.integers(2, 4))).capitalize() + "us "
                 + word(int(rng.integers(2, 4))) + "a")
            if s not in seen:
                seen.add(s)
                names.append(s)
        self.names = np.array(names, dtype=object)
        self.families = np.array(families, dtype=object)
        self.family_of = rng.integers(0, n_families, n_names)
        self.kingdom_of = rng.integers(0, 3, n_families)
        self.kingdoms = np.array(["Animalia", "Plantae", "Fungi"], dtype=object)
        self.collectors = np.array(
            [f"{word(2).capitalize()} {word(3).capitalize()}" for _ in range(400)],
            dtype=object,
        )
        days = [DAY0 + dt.timedelta(days=i) for i in range(N_DAYS)]
        self.day_ymd = np.array([(d.year, d.month, d.day) for d in days])
        self.date_text = np.array(
            [[fmt(d) for d in days] for fmt, _ in _DATE_FORMATS], dtype=object
        )
        self.date_share = np.array([s for _, s in _DATE_FORMATS])
        self.ints = np.array([str(i) for i in range(10000)], dtype=object)


def _cat(rng, n, probs):
    """Category index per row drawn from ``probs`` (sums to 1)."""
    return rng.choice(len(probs), size=n, p=np.asarray(probs) / np.sum(probs))


def _vocab_column(rng, n, ok, bad, p_bad, p_null):
    vals = np.empty(n, dtype=object)
    cat = _cat(rng, n, [1 - p_bad - p_null, p_bad, p_null])
    vals[cat == 0] = np.array(ok, dtype=object)[rng.integers(0, len(ok), int((cat == 0).sum()))]
    vals[cat == 1] = np.array(bad, dtype=object)[rng.integers(0, len(bad), int((cat == 1).sum()))]
    vals[cat == 2] = ""
    return vals


def _coord_column(rng, n, limit, dirty, force):
    """Coordinate strings plus their category: 0 valid, 1 out of range,
    2 non-numeric, 3 empty.  ``force`` makes the first rows show every
    category, so each dirty file raises the same warnings."""
    probs = [0.965, 0.01, 0.005, 0.02] if dirty else [0.98, 0.0, 0.0, 0.02]
    cat = _cat(rng, n, probs)
    if force and dirty and n >= 3:
        cat[:3] = [1, 2, 0]
    micro = rng.integers(-limit * 100000, limit * 100000 + 1, n)
    out_of_range = rng.integers(limit * 100000 + 1, (limit + 100) * 100000, n)
    sign = np.where(rng.random(n) < 0.5, -1, 1)
    micro = np.where(cat == 1, sign * out_of_range, micro)
    vals = np.array(
        [f"{'-' if m < 0 else ''}{abs(m) // 100000}.{abs(m) % 100000:05d}" for m in micro],
        dtype=object,
    )
    bad = cat == 2
    vals[bad] = np.array(NON_NUMERIC, dtype=object)[rng.integers(0, len(NON_NUMERIC), int(bad.sum()))]
    vals[cat == 3] = ""
    return vals, cat


def _date_columns(rng, bank, n):
    """eventDate in mixed formats plus raw year/month/day.  Returns the
    four columns and the true day index per row (-1: no parseable date)."""
    day = rng.integers(0, N_DAYS, n)
    kind = _cat(rng, n, [0.95, 0.03, 0.02])  # dated / unparseable / empty
    fmt = _cat(rng, n, bank.date_share)
    event = bank.date_text[fmt, day]
    junk = kind == 1
    event[junk] = np.array(UNPARSEABLE_DATES, dtype=object)[
        rng.integers(0, len(UNPARSEABLE_DATES), int(junk.sum()))]
    event[kind == 2] = ""
    ymd = bank.day_ymd[day]
    raw_missing = (kind == 2) | (rng.random(n) < 0.05)
    parts = []
    for j in range(3):
        col = bank.ints[ymd[:, j]]
        col[raw_missing] = ""
        parts.append(col)
    return event, parts[0], parts[1], parts[2], np.where(kind == 0, day, -1)


def _taxa(rng, bank, n):
    z = rng.zipf(1.2, n)
    name_idx = (z - 1) % len(bank.names)
    fam_idx = bank.family_of[name_idx]
    names = bank.names[name_idx]
    names[rng.random(n) < 0.01] = ""
    fams = bank.families[fam_idx]
    fams[rng.random(n) < 0.03] = ""
    kingdom = bank.kingdoms[bank.kingdom_of[fam_idx]]
    kingdom[rng.random(n) < 0.05] = ""
    return names, fams, kingdom


def _counts(rng, bank, n, dirty):
    vals = bank.ints[rng.integers(1, 51, n)]
    cat = _cat(rng, n, [0.68, 0.02 if dirty else 0.0, 0.30])
    vals[cat == 1] = "several"
    vals[cat == 2] = ""
    return vals, cat


def _ids(rng, prefix, n, n_dup, force):
    ids = np.array([f"{prefix}-{i}" for i in range(n)], dtype=object)
    if n_dup:
        targets = rng.choice(np.arange(1, n), size=n_dup, replace=False)
        if force:
            targets[0] = 1
        sources = rng.integers(0, n, n_dup)
        sources = np.where(np.isin(sources, targets), 0, sources)
        ids[targets] = ids[sources]
    return ids


def occurrence_values(rng, bank, n, prefix, dirty, force=False):
    """Every occurrence term for ``n`` rows, plus the generator's labels."""
    names, fams, kingdom = _taxa(rng, bank, n)
    event, year, month, day, day_idx = _date_columns(rng, bank, n)
    lat, lat_cat = _coord_column(rng, n, 90, dirty, force)
    lon, lon_cat = _coord_column(rng, n, 180, dirty, force)
    count, count_cat = _counts(rng, bank, n, dirty)
    if force and dirty:
        count[0], count_cat[0] = "several", 1
    recorded = bank.collectors[rng.integers(0, len(bank.collectors), n)]
    recorded[rng.random(n) < 0.10] = ""
    country = np.array(COUNTRIES, dtype=object)[rng.integers(0, len(COUNTRIES), n)]
    country[rng.random(n) < 0.05] = ""
    p_bad = 0.05 if dirty else 0.0
    cols = {
        "occurrenceID": _ids(rng, prefix, n, max(1, n // 500) if dirty else 0, force),
        "basisOfRecord": _vocab_column(rng, n, BASIS_OK, BASIS_BAD, p_bad, 0.02),
        "scientificName": names,
        "family": fams,
        "kingdom": kingdom,
        "decimalLatitude": lat,
        "decimalLongitude": lon,
        "geodeticDatum": _vocab_column(rng, n, DATUM_OK, DATUM_BAD, p_bad, 0.05),
        "eventDate": event,
        "year": year,
        "month": month,
        "day": day,
        "recordedBy": recorded,
        "country": country,
        "individualCount": count,
    }
    labels = {"decimalLatitude": lat_cat, "decimalLongitude": lon_cat,
              "individualCount": count_cat, "day_idx": day_idx}
    return cols, labels


# --------------------------------------------------------------------------
# expected reports, tallied from the generated values
# --------------------------------------------------------------------------

def _populated(v) -> np.ndarray:
    return v != ""


def _numeric_ok(name, cols, labels) -> int:
    """Values that read as numbers: coordinate categories 0-1, count
    category 0, raw date parts always."""
    v = cols[name]
    if name in ("decimalLatitude", "decimalLongitude"):
        return int(np.isin(labels[name], [0, 1]).sum())
    if name == "individualCount":
        return int((labels[name] == 0).sum())
    return int(_populated(v).sum())


def _vocab_report(field, cols, ok):
    if field not in cols:
        return {"field": field, "has_field": False, "recognised_count": 0,
                "unrecognised_count": 0, "non_matching_values": []}
    v = cols[field]
    n = len(v)
    nulls = int((~_populated(v)).sum())
    recognised = np.isin(v, ok)
    offenders = sorted(set(v[_populated(v) & ~recognised].tolist()))[:10]
    return {
        "field": field,
        "has_field": True,
        "recognised_count": int(recognised.sum()),
        "unrecognised_count": n - nulls - int(recognised.sum()),
        "non_matching_values": [x for x in offenders if x != "nan"],
    }


def df_report(record_type, columns, cols, labels, id_column=None, id_field=None,
              numeric_warnings=False):
    """Expected DFValidationReport (as its JSON dict) for one table.
    ``columns`` is the table's column order as the validator names it;
    ``cols`` maps those names to values."""
    n = len(next(iter(cols.values())))
    errors: list[str] = []
    warnings: list[str] = []
    record_errors = 0
    if id_field:
        ids = cols[id_column]
        populated = int(_populated(ids).sum())
        distinct = len(set(ids[_populated(ids)].tolist()))
        if populated < n:
            errors.append(f"MISSING_{id_field.upper()}_FIELD_VALUES")
            record_errors = n - populated
        elif distinct != n:
            errors.append(f"DUPLICATE_{id_field.upper()}_VALUES")
            record_errors = populated - distinct
    column_counts = {c: int(_populated(cols[c]).sum()) for c in columns}
    if numeric_warnings:
        for name in NUMERIC_ORDER:
            if name in cols and column_counts[name] > _numeric_ok(name, cols, labels):
                warnings.append(f"NON_NUMERIC_VALUES_IN_{name.upper()}")
    if "decimalLatitude" in cols and "decimalLongitude" in cols:
        lat, lon = labels["decimalLatitude"], labels["decimalLongitude"]
        bad_lat = int(np.isin(lat, [1, 2]).sum())
        bad_lon = int(np.isin(lon, [1, 2]).sum())
        if bad_lat or bad_lon:
            warnings.append("INVALID_OR_OUT_OF_RANGE_COORDINATES")
        coords = {"has_coordinates_fields": True,
                  "invalid_decimal_latitude_count": bad_lat,
                  "invalid_decimal_longitude_count": bad_lon}
    else:
        coords = {"has_coordinates_fields": False,
                  "invalid_decimal_latitude_count": 0,
                  "invalid_decimal_longitude_count": 0}

    def any_populated(group):
        present = [cols[c] for c in group if c in cols]
        if not present:
            return 0
        return int(np.logical_or.reduce([_populated(v) for v in present]).sum())

    occurrence = record_type == "Occurrence"
    vocab = [("basisOfRecord", BASIS_OK)] if occurrence else []
    vocab.append(("geodeticDatum", DATUM_OK))
    return {
        "record_type": record_type,
        "record_count": n,
        "errors": errors,
        "warnings": warnings,
        "coordinates_report": coords,
        "column_counts": column_counts,
        "record_error_count": record_errors,
        "records_with_taxonomy_count": any_populated(TAXONOMY) if occurrence else 0,
        "records_with_temporal_count": any_populated(TEMPORAL),
        "records_with_recorded_by_count": any_populated(["recordedBy"]),
        "vocab_reports": [_vocab_report(f, cols, ok) for f, ok in vocab],
    }


def breakdowns(bank, cols, labels):
    """Expected breakdowns of one table: eventDate-derived year/month/day
    histograms and the top-20 scientificName/family lists (ties broken
    by value), the latter as ordered [value, count] pairs."""
    out: dict = {}
    if "day_idx" in labels:
        ymd = bank.day_ymd[labels["day_idx"][labels["day_idx"] >= 0]]
        for j, key in enumerate(("year", "month", "day")):
            out[key] = {str(k): int(c) for k, c in Counter(ymd[:, j].tolist()).items()}
    for key in ("scientificName", "family"):
        if key in cols:
            v = cols[key]
            tally = Counter(v[_populated(v)].tolist())
            out[key] = [[k, c] for k, c in
                        sorted(tally.items(), key=lambda kv: (-kv[1], kv[0]))[:20]]
    return out


# --------------------------------------------------------------------------
# writers
# --------------------------------------------------------------------------

def _write_csv(path, header, columns):
    with open(path, "w", encoding="utf-8", newline="") as fh:
        fh.write("\t".join(header) + "\n")
        n = len(columns[0])
        step = 50_000
        for lo in range(0, n, step):
            chunk = [c[lo:lo + step] for c in columns]
            fh.write("\n".join(map("\t".join, zip(*chunk))))
            fh.write("\n")


def _meta_xml(row_type, locations, terms, id_tag, ext=None):
    """meta.xml declaring a core (and optionally one extension); ``terms``
    lists (index, term) pairs; index 0 is the id/coreid column."""
    def table(tag, row, locs, fields, idt):
        files = "".join(f"<location>{loc}</location>" for loc in locs)
        flds = "".join(f'<field index="{i}" term="{DWC}{t}"/>' for i, t in fields)
        return (f'<{tag} encoding="UTF-8" fieldsTerminatedBy="\\t" '
                f'linesTerminatedBy="\\n" fieldsEnclosedBy="" '
                f'ignoreHeaderLines="1" rowType="{row}">'
                f"<files>{files}</files><{idt} index=\"0\"/>{flds}</{tag}>")

    body = table("core", row_type, locations, terms, id_tag)
    if ext:
        body += table("extension", ext[0], ext[1], ext[2], "coreid")
    return ('<?xml version="1.0" encoding="UTF-8"?>\n'
            '<archive xmlns="http://rs.tdwg.org/dwc/text/">' + body + "</archive>\n")


def write_occurrence_archive(path, rng, bank, n, prefix, dirty, zipped=False, n_files=1):
    """Occurrence-core archive, its rows split over ``n_files`` CSV
    files; returns (archive path, expected report)."""
    cols, labels = occurrence_values(rng, bank, n, prefix, dirty)
    os.makedirs(path, exist_ok=True)
    locations = [f"occurrence_{i}.txt" for i in range(n_files)]
    bounds = np.linspace(0, n, n_files + 1).astype(int)
    for i, loc in enumerate(locations):
        _write_csv(os.path.join(path, loc), OCC_CORE,
                   [cols[t][bounds[i]:bounds[i + 1]] for t in OCC_CORE])
    with open(os.path.join(path, "meta.xml"), "w", encoding="utf-8") as fh:
        fh.write(_meta_xml(ROW_OCCURRENCE, locations, list(enumerate(OCC_CORE)), "id"))
    # the validator names the id-index column "id"
    named = {("id" if t == "occurrenceID" else t): v for t, v in cols.items()}
    core = df_report("Occurrence", ["id"] + OCC_CORE[1:], named, labels,
                     id_column="id", id_field="occurrenceID")
    expected = {"valid": not core["errors"], "core_type": ROW_OCCURRENCE,
                "dataset_type": "Occurrence", "core": core, "extensions": [],
                "breakdowns": breakdowns(bank, cols, labels)}
    if zipped:
        path = _zip_dir(path)
    return path, expected


def write_event_archive(path, rng, bank, n_events, prefix, dirty):
    """Event core (about five occurrences per event) plus an Occurrence
    extension; returns (archive path, expected report)."""
    ev, ev_labels = occurrence_values(rng, bank, n_events, prefix + "-ev", dirty)
    ev_cols = {t: ev[t] for t in EVENT_CORE if t in ev}
    ev_cols["eventID"] = ev["occurrenceID"]
    ev_cols["samplingProtocol"] = np.array(PROTOCOLS, dtype=object)[
        rng.integers(0, len(PROTOCOLS), n_events)]
    ev_cols["locality"] = np.array(
        [f"site {i}" for i in rng.integers(0, 500, n_events)], dtype=object)
    n_occ = n_events * 5
    occ, occ_labels = occurrence_values(rng, bank, n_occ, prefix, dirty)
    core_ids = ev_cols["eventID"][rng.integers(0, n_events, n_occ)]
    os.makedirs(path, exist_ok=True)
    _write_csv(os.path.join(path, "event.txt"), ["id"] + EVENT_CORE,
               [ev_cols["eventID"]] + [ev_cols[t] for t in EVENT_CORE])
    _write_csv(os.path.join(path, "occurrence.txt"), ["coreid"] + OCC_EXT,
               [core_ids] + [occ[t] for t in OCC_EXT])
    ev_terms = [(i + 1, t) for i, t in enumerate(EVENT_CORE)]
    occ_terms = [(i + 1, t) for i, t in enumerate(OCC_EXT)]
    with open(os.path.join(path, "meta.xml"), "w", encoding="utf-8") as fh:
        fh.write(_meta_xml(ROW_EVENT, ["event.txt"], ev_terms, "id",
                           ext=(ROW_OCCURRENCE, ["occurrence.txt"], occ_terms)))
    core_named = dict(ev_cols, id=ev_cols["eventID"])
    core = df_report("Event", ["id"] + EVENT_CORE, core_named, ev_labels,
                     id_column="eventID", id_field="eventID")
    ext_named = {t: occ[t] for t in OCC_EXT}
    ext_named["coreid"] = core_ids
    ext = df_report("Occurrence", ["coreid"] + OCC_EXT, ext_named, {})
    bd = breakdowns(bank, ev_cols, ev_labels)
    bd.update(breakdowns(bank, ext_named, {}))
    expected = {"valid": not core["errors"], "core_type": ROW_EVENT,
                "dataset_type": "Event", "core": core, "extensions": [ext],
                "breakdowns": bd}
    return path, expected


def _zip_dir(path):
    out = path.rstrip("/") + ".zip"
    with zipfile.ZipFile(out, "w", zipfile.ZIP_DEFLATED) as zf:
        for name in sorted(os.listdir(path)):
            zf.write(os.path.join(path, name), name)
    for name in os.listdir(path):
        os.remove(os.path.join(path, name))
    os.rmdir(path)
    return out


def write_stream_files(path, rng, bank, n_files, rows):
    """Occurrence CSV files for the file-source stream.  IDs are unique
    across files (some files repeat IDs within themselves); every file
    raises the same warnings, so folded and union reports list them in
    the same order.  Returns the expected report of the union."""
    os.makedirs(path, exist_ok=True)
    parts = []
    for i in range(n_files):
        cols, labels = occurrence_values(rng, bank, rows, f"s{i}", True, force=True)
        _write_csv(os.path.join(path, f"part-{i:03d}.csv"), OCC_CORE,
                   [cols[t] for t in OCC_CORE])
        parts.append((cols, labels))
    union = {t: np.concatenate([c[t] for c, _ in parts]) for t in OCC_CORE}
    union_labels = {k: np.concatenate([lb[k] for _, lb in parts]) for k in parts[0][1]}
    return df_report("Occurrence", OCC_CORE, union, union_labels,
                     id_column="occurrenceID", id_field="occurrenceID",
                     numeric_warnings=True)


def write_corpus(path, rng, n_docs, vocab_size=5000):
    """Document corpus (``doc_id`` long, ``text`` string) as Parquet.

    About 5% of documents are exact duplicates of an earlier one up to
    whitespace or letter case, and 5% are near duplicates (a few words
    replaced).  Every document passes the quality gate (enough
    alphabetic tokens and a lower-case stopword) except the upper-case
    duplicates.  Returns the expected keeper ids (smallest gated id of
    each normalised-text group) and the planted pairs whose word-bigram
    Jaccard is 1 or >= 0.85."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    letters = np.array(list("abcdefghijklmnopqrstuvwxyz"))
    words = sorted({"".join(rng.choice(letters, int(rng.integers(3, 9))))
                    for _ in range(vocab_size)})
    words = np.array([w for w in words if w not in STOPWORDS_OUT], dtype=object)
    texts: list[str] = []
    gated: list[int] = []  # documents that pass the quality gate
    planted: list[list[int]] = []
    for i in range(n_docs):
        r = rng.random()
        if i > 10 and r < 0.05:
            src = gated[int(rng.integers(0, len(gated)))]
            if rng.random() < 0.7:
                texts.append("  " + texts[src].replace(" ", "   ", 3) + " \t")
                gated.append(i)
                planted.append([src, i])
            else:
                # same normalised text, but upper case misses the stopword gate
                texts.append(texts[src].upper())
            continue
        if i > 10 and r < 0.10:
            src = gated[int(rng.integers(0, len(gated)))]
            toks = texts[src].split()
            for j in rng.choice(len(toks), max(1, len(toks) // 60), replace=False):
                toks[j] = words[int(rng.integers(0, len(words)))]
            text = " ".join(toks)
            if jaccard(text, texts[src]) >= 0.85:
                planted.append([src, i])
            texts.append(text)
            gated.append(i)
            continue
        length = int(rng.integers(80, 160))
        toks = words[(rng.zipf(1.3, length) - 1) % len(words)].tolist()
        for j in rng.choice(length, 4, replace=False):
            toks[j] = STOPWORDS_IN[int(rng.integers(0, len(STOPWORDS_IN)))]
        texts.append(" ".join(toks))
        gated.append(i)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(pa.table({"doc_id": pa.array(range(n_docs), pa.int64()),
                             "text": pa.array(texts, pa.string())}), path)
    keepers: dict[str, int] = {}
    for i in gated:
        keepers.setdefault(" ".join(texts[i].split()).lower(), i)
    # the pipeline's default deterministic 50% sample: md5 of the id's
    # decimal text, first 8 hex digits below 0x80000000
    sampled = [i for i in keepers.values()
               if hashlib.md5(str(i).encode()).hexdigest()[:8] < "80000000"]
    return sorted(sampled), planted


STOPWORDS_IN = ["the", "of", "and", "to", "in"]
STOPWORDS_OUT = {"the", "a", "of", "and", "to", "in", "is"}


def shingles(text: str) -> set[str]:
    """Distinct whitespace word bigrams."""
    toks = text.split()
    return {f"{a} {b}" for a, b in zip(toks, toks[1:])}


def jaccard(a: str, b: str) -> float:
    sa, sb = shingles(a), shingles(b)
    return len(sa & sb) / len(sa | sb) if sa | sb else 0.0


# --------------------------------------------------------------------------
# workload inputs
# --------------------------------------------------------------------------

SMALL_ROWS = (3000, 4500, 3500, 5000, 4000)
SMALL_KINDS = ("dir", "zip", "dir", "event")
SMALL_WARM = 5            # full-size warm-up archives after the tiny one
LARGE_ROWS = 100_000
LARGE_FILES = 4
LARGE_WARM = 3            # full-size warm-up calls after the tiny one
CORPUS_DOCS = 300
STREAM_GROUPS = 5         # one stream pass reads one group of files
STREAM_FILES = 4          # files per group, one file per trigger
STREAM_ROWS = 1000


def _dump(path, obj):
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        json.dump(obj, fh)


class _Writer:
    """Collects the manifest: every input with its expectation file."""

    def __init__(self, out):
        self.inputs = os.path.join(out, "inputs")
        self.expect = os.path.join(out, "expect")

    def item(self, name, path, expected, rows, **extra):
        exp = os.path.join(self.expect, f"{name}.json")
        _dump(exp, expected)
        return dict(path=path, expect=exp, rows=rows, **extra)


def _archive(w, rng, bank, name, kind, dirty, rows):
    path = os.path.join(w.inputs, name)
    if kind == "event":
        n_events = rows // 6
        path, exp = write_event_archive(path, rng, bank, n_events, name, dirty)
        rows = n_events * 6  # core plus extension records
    else:
        path, exp = write_occurrence_archive(path, rng, bank, rows, name, dirty,
                                             zipped=kind == "zip")
    return w.item(name, path, exp, rows, kind=kind, dirty=dirty)


def _stream_group(w, rng, bank, name, n_files, rows):
    path = os.path.join(w.inputs, name)
    exp = write_stream_files(path, rng, bank, n_files, rows)
    return w.item(name, path, exp, n_files * rows, files=n_files, file_rows=rows)


def _corpus(w, rng, name, n_docs):
    path = os.path.join(w.inputs, name, "corpus.parquet")
    keepers, planted = write_corpus(path, rng, n_docs)
    return w.item(name, path, {"keepers": keepers, "planted_pairs": planted}, n_docs)


def generate(workload: str, seed: int, out: str, pool: int = 8) -> dict:
    """Write the inputs of ``workload`` for ``seed`` under ``out`` and
    return the manifest: warm-up inputs and timed inputs, each with its
    expectation file and record count.  The first warm-up input is a
    small one that pays the first call's start-up cost.  ``pool`` is the
    number of archives written for archive_many_small."""
    rng = np.random.default_rng([seed, sum(map(ord, workload))])
    bank = Bank(rng)
    w = _Writer(out)
    if workload == "archive_many_small":
        # 1/2 Occurrence directories, 1/4 zipped Occurrence, 1/4 Event
        # core + Occurrence extension; every other archive is clean.  The
        # kind, cleanliness and size sequence is the same for every seed,
        # so seeds differ only in content.
        def small(name, i):
            return _archive(w, rng, bank, name, SMALL_KINDS[i % 4], (i + i // 4) % 2 == 0,
                            SMALL_ROWS[i % len(SMALL_ROWS)])

        # a tiny archive pays the first call's JIT and code generation;
        # full-size ones of every kind take the session along the rest of
        # the JIT ramp, during which CPU per call halves
        warm = ([_archive(w, rng, bank, "warm_zip", "zip", True, 400)]
                + [small(f"warm_{i}", i) for i in range(SMALL_WARM)])
        ops = [small(f"small_{i:04d}", i) for i in range(pool)]
    elif workload == "archive_large":
        path, exp = write_occurrence_archive(
            os.path.join(w.inputs, "large"), rng, bank, LARGE_ROWS, "large", True,
            n_files=LARGE_FILES)
        ops = [w.item("large", path, exp, LARGE_ROWS, kind="dir", dirty=True)]
        # the first calls at full size still compile the scan paths
        warm = [_archive(w, rng, bank, "warm_zip", "zip", True, 400)] + ops * LARGE_WARM
    elif workload == "corpus_dedup":
        ops = [_corpus(w, rng, "corpus", CORPUS_DOCS)]
        warm = [_corpus(w, rng, "warm_corpus", 100), ops[0]]
    elif workload == "stream_validation":
        warm = [_stream_group(w, rng, bank, "warm_stream", 2, 200),
                _stream_group(w, rng, bank, "warm_pass", 6, STREAM_ROWS)]
        ops = [_stream_group(w, rng, bank, f"stream_{g}", STREAM_FILES, STREAM_ROWS)
               for g in range(STREAM_GROUPS)]
    else:
        raise ValueError(f"unknown workload {workload!r}")
    manifest = {"workload": workload, "seed": seed, "warm": warm, "ops": ops}
    _dump(os.path.join(out, "manifest.json"), manifest)
    return manifest


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--pool", type=int, default=8,
                    help="archives to write for archive_many_small")
    args = ap.parse_args()
    generate(args.workload, args.seed, args.out, args.pool)


if __name__ == "__main__":
    main()
