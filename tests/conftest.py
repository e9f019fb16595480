import os
import sys

import pytest
from hypothesis import settings

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession

# Property tests are part of the Tier-1 gate, so every run on every host
# draws the same examples: derandomize seeds each test's draws from the
# test itself, and no example database carries state over from an
# earlier run. Tests that fix their own max_examples keep it; the
# schema-tree differentials in test_property_oracle.py take the
# profile's. The soak profile, selected by JIO_FUZZ_EXAMPLES (600 or
# more for a recorded soak), widens those to that many examples under
# the same seeding, so a counterexample a soak finds is found again on
# rerun.
settings.register_profile("tier1", derandomize=True, database=None,
                          max_examples=25)
_SOAK_EXAMPLES = os.environ.get("JIO_FUZZ_EXAMPLES")
if _SOAK_EXAMPLES:
    settings.register_profile("soak", derandomize=True, database=None,
                              max_examples=int(_SOAK_EXAMPLES))
settings.load_profile("soak" if _SOAK_EXAMPLES else "tier1")


@pytest.fixture(scope="session")
def spark():
    s = (SparkSession.builder
         .master("local[4]")
         .appName("jio_spark-tests")
         .config("spark.sql.shuffle.partitions", "4")
         .config("spark.default.parallelism", "4")
         .config("spark.sql.adaptive.enabled", "true")
         .config("spark.ui.enabled", "false")
         .config("spark.driver.memory", "4g")
         .config("spark.sql.execution.arrow.pyspark.enabled", "true")
         .getOrCreate())
    yield s
    s.stop()


def collect_map(df, key, value):
    """{key: value} from a small DataFrame."""
    return {r[key]: r[value] for r in df.collect()}
