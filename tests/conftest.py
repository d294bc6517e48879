from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, "/root/repo")


def _named_targets(config) -> list[tuple[Path, str]]:
    """(file, test path) of every node-id argument (``file::test``)."""
    out = []
    for arg in config.args:
        path, sep, rest = arg.partition("::")
        if sep:
            out.append(
                (Path(config.invocation_params.dir, path).resolve(), rest)
            )
    return out


@pytest.hookimpl(hookwrapper=True)
def pytest_collection_modifyitems(config, items):
    """An explicit node-id selection runs the named tests even when the
    default ``-m 'not soak and not slow'`` (pyproject addopts) would
    deselect them — otherwise ``pytest file::slow_test`` reports "no
    tests collected" and reads as a pass. Named items are hidden from
    the mark filter and put back in place; an explicit ``-m`` on the
    command line still wins, and runs without node ids are untouched."""
    targets = _named_targets(config)
    user_m = any(
        str(a).startswith("-m") for a in config.invocation_params.args
    )
    if not targets or user_m:
        yield
        return

    def named(item) -> bool:
        rest = item.nodeid.partition("::")[2]
        return any(
            item.path.resolve() == path
            and (rest == t or rest.startswith((t + "::", t + "[")))
            for path, t in targets
        )

    order = list(items)
    pinned = {id(it) for it in order if named(it)}
    items[:] = [it for it in order if id(it) not in pinned]
    yield
    kept = {id(it) for it in items} | pinned
    items[:] = [it for it in order if id(it) in kept]

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECTNESS = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .appName("pg_vectorize_spark-tests")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def products_df(spark):
    """The reference's 40-product fixture, abbreviated: a deterministic corpus
    with the same shape (FIXTURES.md §1) for search/filter tests."""
    rows = [
        (1, "Pencil", "Wooden pencil with eraser", "office", 1.50),
        (2, "Notebook", "College ruled spiral notebook", "office", 3.75),
        (3, "Desk Lamp", "LED desk lamp with adjustable arm", "home", 24.99),
        (4, "Phone Charger", "Fast usb phone charger for mobile devices", "electronics", 12.99),
        (5, "Tablet Holder", "Adjustable tablet holder stand for mobile devices", "electronics", 18.50),
        (6, "Bluetooth Speaker", "Portable bluetooth speaker for mobile devices", "electronics", 45.00),
        (7, "Wireless Mouse", "Ergonomic wireless mouse", "electronics", 25.00),
        (8, "Alarm Clock", "Digital alarm clock with radio", "electronics", 25.00),
        (9, "Water Bottle", "Insulated steel water bottle", "kitchen", 15.25),
        (10, "Coffee Mug", "Ceramic coffee mug", "kitchen", 8.00),
        (11, "Backpack", "Water resistant laptop backpack", "travel", 55.00),
        (12, "Luggage Tag", "Leather luggage tag", "travel", 6.99),
        (13, "Pizza Cutter", "Stainless pizza cutter wheel", "kitchen", 9.99),
        (14, "Airplane Model", "Diecast airplane model kit", "toys", 32.00),
    ]
    return spark.createDataFrame(
        rows,
        "product_id int, product_name string, description string, "
        "product_category string, price double",
    )
