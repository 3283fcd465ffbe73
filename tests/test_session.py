"""``session.get_spark``: it tells the split planners the local master's
task slots, and it runs Spark's Python worker traffic over Unix domain
sockets in a private directory it removes at interpreter exit, staying on
loopback TCP where it cannot."""

import json
import os
import subprocess
import sys
import textwrap

import pytest

from hadoop_bam_spark import session
from tests import textgen

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.mark.parametrize("master, cores", [
    ("local", 1), ("local[1]", 1), ("local[8]", 8), ("local[2,3]", 2),
    ("local[*]", os.cpu_count()), ("local[*,4]", os.cpu_count()),
    ("local[0]", None), ("local[x]", None), ("yarn", None),
    ("spark://host:7077", None), ("local-cluster[2,1,1024]", None),
])
def test_master_cores(master, cores):
    assert session.master_cores(master) == cores


def test_session_slots_reach_the_planners(spark):
    """The suite's ``local[8]`` session exported its 8 task slots as
    ``SPARK_GRAFT_CPUS`` before its JVM started, so the split planners in
    its Python workers size for the slots Spark runs."""
    assert os.environ["SPARK_GRAFT_CPUS"] == str(spark.sparkContext.defaultParallelism)
    assert session.local_cpus() == spark.sparkContext.defaultParallelism
    in_worker = spark.sparkContext.parallelize([0], 1).map(
        lambda _: os.environ.get("SPARK_GRAFT_CPUS")).collect()
    assert in_worker == [os.environ["SPARK_GRAFT_CPUS"]]


def test_socket_parent_choice():
    short = "/var/tmp"
    long_dir = "/" + "d" * 80  # + private dir + ".<uuid>.sock" > 107 bytes
    local = "local[2]"
    assert session.socket_parent({}, local, short, af_unix=True) == short
    assert session.socket_parent({}, local, long_dir, af_unix=True) == "/tmp"
    # the caller's conf wins: the engine makes no directory
    for conf in ({session.UDS_ENABLED: "false"},
                 {session.UDS_ENABLED: "true"},
                 {session.UDS_DIR: "/run/mine"}):
        assert session.socket_parent(conf, local, short, af_unix=True) is None
    # no AF_UNIX on this platform, or executors on other hosts: loopback TCP
    assert session.socket_parent({}, local, short, af_unix=False) is None
    assert session.socket_parent({}, "yarn", short, af_unix=True) is None


_REGION_COUNT = textwrap.dedent("""
    import json, os, sys
    from hadoop_bam_spark.session import UDS_DIR, get_spark, worker_transport
    from hadoop_bam_spark.sources import register_all

    spark = get_spark("uds_probe", master="local[1]", shuffle_partitions=1,
                      extra_conf={"spark.ui.showConsoleProgress": "false"})
    register_all(spark)
    n = (spark.read.format("bam").option("intervals", sys.argv[2])
         .load(sys.argv[1]).count())
    sock_dir = spark.sparkContext.getConf().get(UDS_DIR)
    out = {"transport": worker_transport(), "dir": sock_dir, "count": n,
           "sockets": sum(f.endswith(".sock") for f in os.listdir(sock_dir))}
    if sys.argv[3] == "stop":
        spark.stop()
    print(json.dumps(out))
""")


def _tmp_sockets() -> set:
    return {f for f in os.listdir("/tmp") if f.startswith(".") and f.endswith(".sock")}


@pytest.mark.parametrize("finish", ["stop", "exit"])
def test_region_query_over_unix_sockets_leaves_nothing(tmp_path, finish):
    """A TMPDIR too long for ``sun_path``: the sockets move to a private
    directory under /tmp, an ``intervals`` count over them matches the
    generator, and neither a socket nor the directory outlives the
    interpreter, whether it stops Spark first or just exits (which leaves
    a socket file behind in Spark's default directory)."""
    records = textgen.gen_bam_records()
    bam = tmp_path / "t.bam"
    bam.write_bytes(textgen.bam_file(records))
    start, stop = 200001, 201000  # 1-based, inclusive
    expect = sum(1 for rid, beg, end in map(textgen.bam_span, records)
                 if rid == 0 and beg < stop and end > start - 1)
    long_tmp = tmp_path / ("t" * max(1, 90 - len(str(tmp_path)) - 1))
    long_tmp.mkdir()
    assert len(str(long_tmp)) >= 90
    before = _tmp_sockets()
    env = dict(os.environ, PYTHONPATH=REPO, SPARK_DRIVER_MEM="1g",
               TMPDIR=str(long_tmp))
    r = subprocess.run(
        [sys.executable, "-c", _REGION_COUNT, str(bam), f"chr1:{start}-{stop}",
         finish],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-4000:]
    out = json.loads(r.stdout.strip().splitlines()[-1])
    assert out["transport"] == "unix"
    assert os.path.dirname(out["dir"]) == "/tmp"
    assert out["sockets"] > 0
    assert out["count"] == expect
    assert not os.path.exists(out["dir"])
    assert not [f for f in os.listdir(long_tmp) if f.endswith(".sock")]
    assert _tmp_sockets() <= before
