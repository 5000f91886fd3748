"""QUERIES.md must list every registered query, once."""

from __future__ import annotations

import os
import re

import __spark_entry__  # noqa: F401  (registers every query)
from mongodb_postproc_spark.operators.base import REGISTRY

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_catalog_lists_every_registered_query():
    with open(os.path.join(REPO, "QUERIES.md")) as f:
        text = f.read()
    count = re.search(r"^(\d+) registered queries", text, re.M)
    assert count and int(count.group(1)) == len(REGISTRY), (
        "QUERIES.md is stale: run python tools/gen_catalog.py > QUERIES.md"
    )
    names = re.findall(r"^\| `([^`]+)` \|", text, re.M)
    assert sorted(names) == sorted(REGISTRY)
