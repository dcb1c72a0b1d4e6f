"""Seeded generator for the etl_products inputs: reference-shaped sites,
area_surveyed, environment, species, raw_crawls and nests_joined, with the
reference's defects planted at known places.

The expected QA counts and product row counts are derived here from the
construction itself (counts of what was planted, set arithmetic over the
generated keys), never from running the pipeline.

Planted defects:
- ``DUP_NAMES`` sites reuse another site's subsection name in a different
  division (the ids 64/68 trap; keys stay unique on division+section+subsection);
- ``NULL_BBOX`` sites have one NULL bbox corner;
- ``ORPHANS`` crawls point at survey ids that do not exist;
- ``NULL_SPECIES`` crawls have a NULL species id and ``UNKNOWN_SPECIES`` an
  id missing from the lookup;
- ``BOUNDARY`` surveys sit one second either side of the 31 July / 1 August
  season watershed, in both date formats the surveys table mixes.
"""

from __future__ import annotations

import datetime as dt
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# One fifth of the 500-site, 200k-survey, 2M-crawl, 1M-nest probe: large
# enough that the single-task CSV writes dominate a pass, small enough for a
# run to stay within its time budget.
SIZES = {"sites": 500, "surveys": 40_000, "crawls": 400_000, "nests": 200_000}
DUP_NAMES = 7
NULL_BBOX = 5
ORPHANS = 302
NULL_SPECIES = 17
UNKNOWN_SPECIES = 5
BOUNDARY = 8
DIVISIONS = ["Ningaloo", "Exmouth", "Coral Bay", "Gnaraloo", "Cape Range"]
SPECIES = ["Green", "Loggerhead", "Hawksbill", "Flatback", "Unidentified"]
NEST_TYPES = ["New", "Old", "False", "Unknown"]
T0 = dt.datetime(2016, 9, 1)


def _fmt(ts: dt.datetime, mdy: bool) -> str:
    if mdy:
        return f"{ts.month}/{ts.day}/{ts.year} {ts.hour}:{ts.minute:02d}:{ts.second:02d}"
    return ts.strftime("%Y-%m-%d %H:%M:%S")


def _season(ts: dt.datetime) -> int:
    return ts.year if ts.month > 7 else ts.year - 1


def generate(seed: int) -> tuple[dict[str, pa.Table], dict[str, int], dict[str, int]]:
    """Returns (tables, expected QA counts, expected product row counts)."""
    rng = np.random.default_rng([seed, 0xE7])
    n_sites, n_surveys = SIZES["sites"], SIZES["surveys"]
    n_crawls, n_nests = SIZES["crawls"], SIZES["nests"]

    # --- sites: site 0 is Red Bluff (the manual bbox patch); DUP_NAMES later
    # sites take an earlier site's name in the next division over.
    division = [DIVISIONS[i % len(DIVISIONS)] for i in range(n_sites)]
    section = [f"Section {(i // len(DIVISIONS)) % 12}" for i in range(n_sites)]
    subsection = ["Red Bluff"] + [f"Beach {i:03d}" for i in range(1, n_sites)]
    dup_targets = rng.choice(np.arange(n_sites // 2, n_sites), DUP_NAMES, replace=False)
    for k, j in enumerate(sorted(dup_targets.tolist())):
        src = k * 3 + 1  # an earlier site, never Red Bluff or another target
        subsection[j] = subsection[src]
        division[j] = DIVISIONS[(DIVISIONS.index(division[src]) + 1) % len(DIVISIONS)]
    lat = -21.5 - rng.random(n_sites) * 2.0
    lon = 113.5 + rng.random(n_sites) * 0.8
    bbox = {
        "y_max": lat + 0.01, "y_min": lat - 0.01, "x_max": lon + 0.01, "x_min": lon - 0.01,
    }
    null_bbox = rng.choice(np.arange(1, n_sites), NULL_BBOX, replace=False)
    corners = list(bbox)
    bbox_cols = {c: pa.array(v) for c, v in bbox.items()}
    for k, j in enumerate(null_bbox.tolist()):
        c = corners[k % 4]
        vals = bbox_cols[c].to_pylist()
        vals[j] = None
        bbox_cols[c] = pa.array(vals, pa.float64())
    sites = pa.table({
        "id": np.arange(n_sites, dtype=np.int64),
        "division": division, "section": section, "subsection": subsection,
        "lat": lat, "lon": lon, **bbox_cols,
    })

    # --- surveys: every survey gets a distinct timestamp (even seconds on a
    # grid spanning four years, shuffled over survey ids), so (subsection,
    # date) identifies one survey; BOUNDARY surveys sit at odd seconds on
    # the watershed instead.
    step = 2 * (4 * 365 * 86400 // (2 * n_surveys))
    stamps = [T0 + dt.timedelta(seconds=step * i) for i in range(n_surveys)]
    order = rng.permutation(n_surveys)
    stamps = [stamps[i] for i in order]
    for k in range(BOUNDARY):
        year = 2017 + k // 2
        stamps[k] = (dt.datetime(year, 7, 31, 23, 59, 59) if k % 2 == 0
                     else dt.datetime(year, 8, 1, 0, 0, 1))
    mdy = rng.random(n_surveys) < 0.7
    site_of = rng.integers(0, n_sites, n_surveys)
    survey_ids = np.arange(n_surveys, dtype=np.int64)
    area = pa.table({
        "survey_id": survey_ids,
        "date_id": survey_ids,
        "date_raw": [_fmt(t, m) for t, m in zip(stamps, mdy)],
        "division": [division[s] for s in site_of],
        "section": [section[s] for s in site_of],
        "subsection": [subsection[s] for s in site_of],
        "site_disturbed": pa.array(rng.integers(1, 3, n_surveys), pa.int32()),
    })
    env_ids = np.sort(rng.choice(survey_ids, int(n_surveys * 0.9), replace=False))
    environment = pa.table({
        "date_id": env_ids,
        "wind_speed": np.round(rng.random(len(env_ids)) * 30, 1),
        "air_temp": np.round(18 + rng.random(len(env_ids)) * 15, 1),
    })
    species = pa.table({
        "species_id": np.arange(1, len(SPECIES) + 1, dtype=np.int64),
        "species_name": SPECIES,
    })

    # --- crawls: ORPHANS point past the last survey id; NULL_SPECIES have a
    # NULL species id and UNKNOWN_SPECIES one the lookup does not hold.
    crawl_survey = rng.integers(0, n_surveys, n_crawls)
    planted = rng.choice(n_crawls, ORPHANS + NULL_SPECIES + UNKNOWN_SPECIES, replace=False)
    orphan_rows = planted[:ORPHANS]
    null_rows = planted[ORPHANS:ORPHANS + NULL_SPECIES]
    unknown_rows = planted[ORPHANS + NULL_SPECIES:]
    crawl_survey[orphan_rows] = n_surveys + rng.integers(0, 1000, ORPHANS)
    species_id = rng.integers(1, len(SPECIES) + 1, n_crawls).astype(object)
    species_id[null_rows] = None
    species_id[unknown_rows] = 99
    crawls = pa.table({
        "crawl_id": np.arange(n_crawls, dtype=np.int64),
        "survey_id": crawl_survey,
        "species_id": pa.array(species_id, pa.int64()),
        "no_false_crawls": pa.array(rng.integers(0, 5, n_crawls), pa.int32()),
    })

    # --- nests: valid observations (build_nests already dropped orphans),
    # carrying their survey's subsection and exact timestamp.
    nest_survey = rng.integers(0, n_surveys, n_nests)
    nest_type = np.asarray(NEST_TYPES, dtype=object)[
        rng.choice(len(NEST_TYPES), n_nests, p=[0.55, 0.2, 0.15, 0.1])]
    nests = pa.table({
        "nest_id": np.arange(n_nests, dtype=np.int64),
        "survey_id": nest_survey,
        "nest_type": nest_type,
        "species_name": np.asarray(SPECIES, dtype=object)[
            rng.integers(0, len(SPECIES), n_nests)],
        "date": pa.array([stamps[s] for s in nest_survey], pa.timestamp("us", tz="UTC")),
        "subsection": [subsection[site_of[s]] for s in nest_survey],
    })

    expected_qa = {
        "duplicated_sites": DUP_NAMES,
        "sites_missing_coords": NULL_BBOX,
        "orphan_crawls": ORPHANS,
        "na_species_crawls": NULL_SPECIES + UNKNOWN_SPECIES,
    }
    # summary_nests joins the (subsection, date) tally back to surveys on
    # (subsection, date): one row per survey with a New nest, because every
    # survey timestamp is distinct. The seasonal variant joins on
    # (subsection, season): every survey of a (subsection, season) pair that
    # has at least one New nest.
    new_surveys = {int(s) for s, t in zip(nest_survey, nest_type) if t == "New"}
    pair = [(subsection[site_of[s]], _season(stamps[s])) for s in range(n_surveys)]
    new_pairs = {pair[s] for s in new_surveys}
    expected_rows = {
        "sites": n_sites,
        "surveys": n_surveys,
        "crawls": n_crawls,
        "summary_nests": len(new_surveys),
        "summary_nests_seasons": sum(1 for p in pair if p in new_pairs),
    }
    tables = {
        "raw_sites": sites, "area_surveyed": area, "environment": environment,
        "species": species, "raw_crawls": crawls, "nests_joined": nests,
    }
    return tables, expected_qa, expected_rows


def write(seed: int, out_dir: str) -> tuple[dict[str, int], dict[str, int], dict[str, int]]:
    """Write each input as ``<out_dir>/<name>.parquet``; returns (input row
    counts, expected QA counts, expected product row counts)."""
    tables, expected_qa, expected_rows = generate(seed)
    os.makedirs(out_dir, exist_ok=True)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return {n: t.num_rows for n, t in tables.items()}, expected_qa, expected_rows
