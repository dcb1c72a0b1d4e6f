"""Tests of the benchmark itself (not part of the package's test suite).

    python3 -m pytest perfbench/test_benchmark.py -q

The generator tests are pure Python and fast. The launch tests start the
real benchmark in a subprocess; the foreign-directory one takes about a
minute (one JVM, two query_mix rounds).
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from collections import Counter

import pyarrow.compute as pc

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen_etl  # noqa: E402
import gen_tpch  # noqa: E402


def test_same_seed_same_inputs():
    assert gen_tpch.tables(3)["lineitem"].equals(gen_tpch.tables(3)["lineitem"])
    assert not gen_tpch.tables(3)["lineitem"].equals(gen_tpch.tables(4)["lineitem"])
    a, b = gen_etl.generate(3), gen_etl.generate(3)
    assert all(a[0][n].equals(b[0][n]) for n in a[0]) and a[1:] == b[1:]


def test_etl_expected_counts_match_a_recount_of_the_inputs():
    """The counts the generator claims from its construction agree with an
    independent recount over the tables it wrote."""
    tables, qa, rows = gen_etl.generate(5)
    sites, area = tables["raw_sites"].to_pylist(), tables["area_surveyed"].to_pylist()
    names = Counter(s["subsection"] for s in sites)
    assert qa["duplicated_sites"] == sum(n - 1 for n in names.values())
    assert len({(s["division"], s["section"], s["subsection"]) for s in sites}) == len(sites)
    corners = ("y_max", "y_min", "x_max", "x_min")
    assert qa["sites_missing_coords"] == sum(
        any(s[c] is None for c in corners) for s in sites)
    survey_ids = {a["survey_id"] for a in area}
    crawls = tables["raw_crawls"].to_pylist()
    assert qa["orphan_crawls"] == sum(c["survey_id"] not in survey_ids for c in crawls)
    known = set(tables["species"].column("species_id").to_pylist())
    assert qa["na_species_crawls"] == sum(c["species_id"] not in known for c in crawls)
    assert rows["crawls"] == len(crawls) and rows["surveys"] == len(area)
    nests = tables["nests_joined"]
    new = pc.equal(nests.column("nest_type"), "New")
    new_keys = set(zip(nests.filter(new).column("subsection").to_pylist(),
                       nests.filter(new).column("date").to_pylist()))
    assert rows["summary_nests"] == len(new_keys)
    # Surveys sit on both sides of the season watershed.
    raw = [a["date_raw"] for a in area]
    assert any(r.endswith("23:59:59") and ("7/31/" in r or "-07-31" in r) for r in raw)
    assert any(r.endswith("0:00:01") and (r.startswith("8/1/") or "-08-01" in r) for r in raw)


def test_runs_from_a_foreign_working_directory(tmp_path):
    """The Python workers (spatial_tag_regions' pandas UDF) import the
    package even when the benchmark starts outside the repository root."""
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"),
         "--workload", "query_mix", "--seed", "7", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, proc.stdout[-3000:]
    assert result["attempted"] >= 22  # at least two whole rounds


def test_fails_without_the_package(tmp_path):
    """In a directory holding only BENCHMARK.json and perfbench/, the
    benchmark exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "query_mix",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
