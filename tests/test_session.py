"""The session factory's driver memory setting is a heap ceiling: the JVM
starts without reserving or zero-filling it, and G1 sizes its own heap
regions from that ceiling, so the heap it commits follows the work, and
the 16 GiB default starts on a smaller host."""

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_driver_heap_is_neither_pinned_nor_pretouched(spark):
    mf = spark._jvm.java.lang.management.ManagementFactory
    args = list(mf.getRuntimeMXBean().getInputArguments())
    assert [a for a in args if a.startswith("-Xmx")], args
    assert not [a for a in args if a.startswith("-Xms")], args
    assert "-XX:+AlwaysPreTouch" not in args, args
    assert not [a for a in args if a.startswith("-XX:G1HeapRegionSize")], args
    diag = mf.getPlatformMXBean(
        spark._jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    region = diag.getVMOption("G1HeapRegionSize")
    assert region.getOrigin().toString() != "VM_CREATION", region.toString()


_CHILD = """\
import sys
sys.path.insert(0, {repo!r})
from beamium_spark.session import get_spark

spark = get_spark(app_name="default-heap", master="local[1]")
mx = spark._jvm.java.lang.management.ManagementFactory.getRuntimeMXBean()
print("XMX", [a for a in mx.getInputArguments() if a.startswith("-Xmx")])
print("COUNT", spark.range(1).count())
spark.stop()
"""


def test_default_driver_memory_starts_a_session():
    """No ``BEAMIUM_SPARK_DRIVER_MEM``: the 16 GiB default is only the
    ``-Xmx`` of a JVM that starts and runs a job."""
    env = {k: v for k, v in os.environ.items() if k != "BEAMIUM_SPARK_DRIVER_MEM"}
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD.format(repo=REPO)],
        env=env,
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "XMX ['-Xmx16g']" in proc.stdout, proc.stdout
    assert "COUNT 1" in proc.stdout, proc.stdout
