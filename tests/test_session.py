from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path

from neo4j_blue_green_arrow_etl_spark.session import HOTSPOT_JIT

ROOT = Path(__file__).resolve().parent.parent

# Each test session shares one JVM, which another test may launch
# first, so the JVM checked here is one a fresh process launches.
_PROBE = """
import json, sys
sys.path.insert(0, {root!r})
from neo4j_blue_green_arrow_etl_spark.session import get_spark

spark = get_spark("jit-probe", master="local[1]", extra_conf=json.loads(sys.argv[1]))
jvm = spark.sparkContext._jvm
mf = jvm.java.lang.management.ManagementFactory
hotspot = mf.getPlatformMXBean(
    jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
)
names = [
    "Tier4InvocationThreshold",
    "Tier4MinInvocationThreshold",
    "Tier4CompileThreshold",
    "Tier4BackEdgeThreshold",
]
print(json.dumps({{
    "flags": {{n: hotspot.getVMOption(n).getValue() for n in names}},
    "args": list(mf.getRuntimeMXBean().getInputArguments()),
    "prop": jvm.java.lang.System.getProperty("graft.probe"),
}}))
spark.stop()
"""


def _probe(extra_conf: dict[str, str]) -> dict:
    """The C2 thresholds, input arguments and ``graft.probe`` property
    of a JVM that ``get_spark(extra_conf=...)`` launches."""
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="512m", SPARK_GRAFT_CPUS="1")
    out = subprocess.run(
        [sys.executable, "-c", _PROBE.format(root=str(ROOT)), json.dumps(extra_conf)],
        capture_output=True,
        text=True,
        env=env,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_launched_jvm_has_raised_c2_thresholds_and_caller_java_options():
    """A JVM that ``get_spark`` launches runs with the four tier-4 (C2)
    thresholds at ten times HotSpot's defaults, and a caller's
    ``spark.driver.extraJavaOptions`` still reaches it, after them."""
    got = _probe({"spark.driver.extraJavaOptions": "-Dgraft.probe=caller"})
    assert got["flags"] == {
        "Tier4InvocationThreshold": "50000",
        "Tier4MinInvocationThreshold": "6000",
        "Tier4CompileThreshold": "150000",
        "Tier4BackEdgeThreshold": "400000",
    }
    assert got["prop"] == "caller"
    args = got["args"]
    assert args.index("-Dgraft.probe=caller") > args.index(
        "-XX:Tier4BackEdgeThreshold=400000"
    )


def test_hotspot_jit_keeps_default_c2_thresholds():
    """``HOTSPOT_JIT`` in ``extra_conf`` (as ``bench.py`` passes it)
    launches the JVM with HotSpot's default tier-4 thresholds and no
    raised flag among its input arguments."""
    got = _probe({**HOTSPOT_JIT, "spark.driver.extraJavaOptions": "-Dgraft.probe=bench"})
    assert got["flags"] == {
        "Tier4InvocationThreshold": "5000",
        "Tier4MinInvocationThreshold": "600",
        "Tier4CompileThreshold": "15000",
        "Tier4BackEdgeThreshold": "40000",
    }
    assert got["prop"] == "bench"
    assert not [a for a in got["args"] if a.startswith("-XX:Tier4")]
