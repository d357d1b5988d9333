import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tests.spark_fixtures import sharded_seen_filter, spark  # noqa: E402,F401
