"""What building a query costs the driver, and what errors keep.

Building a DataFrame only composes a logical plan, so it should take
few py4j round trips. PySpark caches its DataFrame-debugging flag on
first use in a process, so these checks run in a fresh interpreter
whose first session comes from ``session.get_spark``: test order in
this process cannot pre-set the flag.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from conftest import SF0001
from test_compile_once import HEADLINE_QUERIES

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Builds the headline queries once (schema inference, memo fills),
# then counts the commands the second, warm build sends through the
# gateway client. Deferred JavaObject deletes ("m" commands, sent by
# py4j's finalizer thread) are left out: they follow garbage
# collection, not the build. Nothing is executed.
_CHILD = r"""
import json, sys
from pyspark.errors import AnalysisException, ArithmeticException
from pyspark.errors.utils import is_debugging_enabled
from pyspark.sql import functions as F
from data_engineering_hs_spark.queries import REGISTRY, load_all
from data_engineering_hs_spark.session import get_spark

sf, names = sys.argv[1], sys.argv[2].split(",")
spark = get_spark(app_name="build_cost")
spark.sparkContext.setLogLevel("OFF")
load_all()
for name in names:
    REGISTRY[name].fn(spark, sf)
client = spark.sparkContext._gateway._gateway_client
send, sent = client.send_command, {}

def counting(command, *args, **kwargs):
    if not command.startswith("m\n"):
        sent[name] = sent.get(name, 0) + 1
    return send(command, *args, **kwargs)

client.send_command = counting
for name in names:
    REGISTRY[name].fn(spark, sf)
client.send_command = send

out = {"sent": sent, "debugging": is_debugging_enabled()}
df = spark.range(3)
try:
    df.select(F.col("no_such_col")).collect()
except AnalysisException as e:
    out["unresolved"] = [type(e).__name__, e.getCondition(), str(e)]
try:
    df.select(F.col("id") / F.lit(0)).collect()
except ArithmeticException as e:
    out["divide"] = [type(e).__name__, e.getCondition(), str(e)]
    out["divide_context"] = [[c.fragment(), c.callSite()] for c in e.getQueryContext()]
spark.stop()
print(json.dumps(out))
"""


@pytest.fixture(scope="module")
def child():
    env = {**os.environ, "SPARK_GRAFT_DRIVER_MEM": "1g"}
    p = subprocess.run(
        [sys.executable, "-c", _CHILD, SF0001, ",".join(HEADLINE_QUERIES)],
        cwd=ROOT, env=env, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


def test_headline_build_sends_at_most_2000_commands(child):
    # 5,387 with per-call origin capture on and the generated dedup
    # expression families composed Column by Column
    total = sum(child["sent"].values())
    assert set(child["sent"]) == set(HEADLINE_QUERIES)
    assert total <= 2000, child["sent"]


def test_get_spark_turns_dataframe_debugging_off(child):
    assert child["debugging"] is False


def test_errors_keep_their_class_and_message(child):
    kind, condition, message = child["unresolved"]
    assert kind == "AnalysisException"
    assert condition == "UNRESOLVED_COLUMN.WITH_SUGGESTION"
    assert "`no_such_col`" in message
    kind, condition, message = child["divide"]
    assert (kind, condition) == ("ArithmeticException", "DIVIDE_BY_ZERO")
    assert message.startswith("[DIVIDE_BY_ZERO]")
    # the DataFrame context still names the operation, but no longer
    # the Python file:line that built it
    [(fragment, call_site)] = child["divide_context"]
    assert fragment == "divide"
    assert "<string>" not in call_site and ".py:" not in call_site
