"""The full batch-ETL product graph (SURVEY.md §3.1) as one composable run:

    fetch → build {sites, surveys, crawls, nests} → summaries → QA
    → write CSV products + sites GeoJSON → publish to catalogue

Mirrors ningaloo-etl.Rmd end-to-end: every `write.csv` site becomes a product
action; the QA section (:372-425) runs as rules and lands in the output as a
machine-checkable report. One lazy DAG per product. The ten actions that
materialize them (four QA checks, five CSV writes, the GeoJSON collect) are
independent, so they are submitted together and Spark's scheduler runs their
jobs side by side on the free cores.
"""

from __future__ import annotations

import json
import os
from collections.abc import Callable
from concurrent.futures import ThreadPoolExecutor
from dataclasses import dataclass
from functools import partial
from typing import Any

import pyspark.sql.functions as F
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

from ningaloo_turtle_etl_spark.operators.quality import (
    duplicated_key_rows,
    missing_coordinates,
    na_lookup_rows,
    orphan_observations,
)
from ningaloo_turtle_etl_spark.plans.products import (
    SITE_KEY,
    build_crawls,
    build_sites,
    build_summary_nests,
    build_surveys,
)
from ningaloo_turtle_etl_spark.plans.qa_report import QaCheck, evaluate_check, write_qa_report
from ningaloo_turtle_etl_spark.sources.files import write_csv
from ningaloo_turtle_etl_spark.sources.geojson import (
    bbox_ring,
    feature_json,
    write_feature_collection,
)


@dataclass
class EtlResult:
    products: dict[str, DataFrame]
    qa: dict[str, int]
    out_dir: str
    qa_detail: dict | None = None


def run_batch_etl(
    inputs: dict[str, DataFrame],
    out_dir: str,
    write_products: bool = True,
    expected_qa: dict[str, int] | None = None,
) -> EtlResult:
    """Run the product graph over loaded inputs.

    ``inputs`` needs: raw_sites, area_surveyed, environment, species,
    raw_crawls, nests_joined (nest obs already carrying nest_type /
    species_name, per build_nests or a fixture).

    The QA checks and, with ``write_products``, the five CSV writes and the
    GeoJSON collect run as one concurrent action set (``_run_together``);
    each action launches the same jobs it would alone, in the caller's job
    group. The QA report files are written once every action has finished,
    and the first failing action, in declared order, is re-raised.
    """
    sites = build_sites(inputs["raw_sites"])
    surveys = build_surveys(inputs["area_surveyed"], inputs["environment"], sites)
    crawls = build_crawls(inputs["raw_crawls"], inputs["species"], surveys)
    nests_joined = inputs["nests_joined"]
    if "season" not in nests_joined.columns:
        nests_joined = nests_joined.join(
            surveys.select("survey_id", "season"), on="survey_id", how="left"
        )
    summary_nests = build_summary_nests(nests_joined, surveys)
    summary_nests_seasons = build_summary_nests(
        nests_joined, surveys, by=("subsection", "season")
    )

    products: dict[str, DataFrame] = {
        "sites": sites,
        "surveys": surveys,
        "crawls": crawls,
        "summary_nests": summary_nests,
        "summary_nests_seasons": summary_nests_seasons,
    }

    # QA section (ningaloo-etl.Rmd:372-425) as a rendered run report:
    # the four reference checks, each with an optional expected count
    # (the reference's prose "we expect 22 NA crawls" as an assertion).
    expected_qa = expected_qa or {}
    checks = [
        QaCheck(
            "duplicated_sites",
            "Site rows whose subsection key appeared earlier "
            "(ningaloo-etl.Rmd:377).",
            duplicated_key_rows(sites, ["subsection"]),
            expected_qa.get("duplicated_sites"),
        ),
        QaCheck(
            "sites_missing_coords",
            "Sites with any NULL bbox coordinate (ningaloo-etl.Rmd:386-389).",
            missing_coordinates(sites),
            expected_qa.get("sites_missing_coords"),
        ),
        QaCheck(
            "orphan_crawls",
            "Crawl observations whose survey_id has no surveys parent — the "
            "302-vs-299 referential check (ningaloo-etl.Rmd:402-405).",
            orphan_observations(inputs["raw_crawls"], surveys, "survey_id"),
            expected_qa.get("orphan_crawls"),
        ),
        QaCheck(
            "na_species_crawls",
            "Crawls whose species lookup resolved to NA — the 22-crawl scan "
            "(ningaloo-etl.Rmd:415-424).",
            na_lookup_rows(crawls, "species_name"),
            expected_qa.get("na_species_crawls"),
        ),
    ]
    actions = [partial(evaluate_check, c) for c in checks]
    if write_products:
        os.makedirs(out_dir, exist_ok=True)
        actions += [
            partial(write_csv, df, os.path.join(out_dir, f"{name}_csv"), single_file=True)
            for name, df in products.items()
        ]
        geo = sites.withColumn(
            "feature",
            feature_json(
                bbox_ring("x_min", "y_min", "x_max", "y_max"),
                {"id": F.col("id"), "subsection": F.col("subsection")},
            ),
        )
        actions.append(
            partial(write_feature_collection, geo, "feature",
                    os.path.join(out_dir, "sites.geojson"))
        )
    results = _run_together(sites.sparkSession, actions)
    qa_detail = {c.name: r for c, r in zip(checks, results)}
    qa = {name: r["count"] for name, r in qa_detail.items()}

    if write_products:
        # Legacy flat counts (qa_report.json 'counts' mirrors this file's old
        # shape) plus the rendered human-readable report.
        with open(os.path.join(out_dir, "qa_report.json"), "w") as f:
            json.dump(qa, f, indent=2)
        write_qa_report(qa_detail, out_dir, stem="qa_run_report")

    return EtlResult(products=products, qa=qa, out_dir=out_dir, qa_detail=qa_detail)


def _run_together(spark: SparkSession, actions: list[Callable[[], Any]]) -> list[Any]:
    """Run every action on its own thread and return their results in order,
    once all have finished; the first failure in list order is re-raised.

    Each action is wrapped separately: the wrapper copies the caller's local
    properties (job group, scheduler pool) once, and threads that shared one
    copy would see each other's SQL execution ids."""
    with ThreadPoolExecutor(max_workers=len(actions)) as pool:
        futures = [pool.submit(inheritable_thread_target(spark)(a)) for a in actions]
    return [f.result() for f in futures]


def publish_products(result: EtlResult, catalogue: Any) -> None:
    """S9: push every written product to the catalogue (resource id =
    product name), mirroring ningaloo-etl.Rmd:430-437."""
    for name in result.products:
        path = os.path.join(result.out_dir, f"{name}_csv")
        if os.path.exists(path):
            catalogue.publish(name, path)
    geo = os.path.join(result.out_dir, "sites.geojson")
    if os.path.exists(geo):
        catalogue.publish("sites_geojson", geo)
