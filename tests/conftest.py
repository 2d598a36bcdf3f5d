import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from mtail_spark.session import get_spark  # noqa: E402


# The reference mtail checkout (example programs, captured logs and
# Go-mtail golden files).  It is not part of this repository; the
# tests that read it skip where it is absent.
REFERENCE = "/root/reference"

requires_reference = pytest.mark.skipif(
    not os.path.isdir(REFERENCE),
    reason=f"reference mtail corpus {REFERENCE} is not present",
)


@pytest.fixture(scope="session")
def spark():
    s = get_spark("mtail-spark-tests", cpus=8, shuffle_partitions=8)
    yield s


SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def sf_smoke():
    return SF_SMOKE


def _job_descriptions(spark) -> dict:
    """{job id: description} from the driver's status store."""
    jobs = spark.sparkContext._jsc.sc().statusStore().jobsList(None)
    out = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        d = j.description()
        out[j.jobId()] = d.get() if d.isDefined() else ""
    return out


@pytest.fixture
def new_listing_jobs(spark):
    """Returns a function listing the descriptions of the Spark
    file-listing jobs ("Listing leaf files ...") run since the test
    began."""
    before = set(_job_descriptions(spark))

    def listing_jobs() -> list:
        return [
            d for i, d in sorted(_job_descriptions(spark).items())
            if i not in before and d.startswith("Listing leaf files")
        ]

    return listing_jobs
