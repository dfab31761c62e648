"""Fallbacks of the driver JVM's class-data-sharing archive (session.py).

Each case launches its driver JVM in a subprocess with its own
``XDG_CACHE_HOME`` and waits for that JVM to exit, so a dump is written
before the case looks at the cache. A case passes only when the session
answers a query, the JVM did not crash (no ``hs_err_pid*.log``) and
nothing printed a CDS log line.
"""

import glob
import json
import os
import shutil
import subprocess
import sys

import pytest
from pyspark import SparkContext

from gdal_spark.session import DriverArchive

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv: mode ("get_spark" | "gateway_first"), extra_conf as JSON.
# Prints the driver JVM's input arguments and class path as the last
# stdout line.
SCRIPT = r"""
import json, sys
from pyspark import SparkContext
from pyspark.sql import SparkSession
from gdal_spark.session import get_spark

mode, extra = sys.argv[1], json.loads(sys.argv[2])
if mode == "gateway_first":
    SparkSession.builder.master("local[1]").getOrCreate().stop()
spark = get_spark("cds_test", master="local[1]", extra_conf=extra)
assert spark.range(10).selectExpr("sum(id) AS s").first().s == 45
if mode == "gateway_first":
    spark.stop()
    spark = get_spark("cds_test", master="local[1]", extra_conf=extra)
    assert spark.range(4).count() == 4
jvm = spark.sparkContext._jvm
args = list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments())
class_path = jvm.System.getProperty("java.class.path")
spark.stop()
gw = SparkContext._gateway
proc = gw.proc
gw.shutdown()
proc.stdin.close()
proc.wait(timeout=120)
print(json.dumps({"args": args, "class_path": class_path}))
"""

CDS_FLAGS = ("-Xshare", "SharedArchiveFile", "ArchiveClassesAtExit")


def run(tmp_path, cache, mode="get_spark", extra=None, conf_dir=None):
    """One driver session in a subprocess; returns its JVM arguments
    and class path."""
    env = {k: v for k, v in os.environ.items() if not k.startswith("PYSPARK_GATEWAY")}
    env.pop("SPARK_CONF_DIR", None)
    env.update(XDG_CACHE_HOME=str(cache), SPARK_DRIVER_MEM="1g", PYTHONPATH=REPO)
    if conf_dir is not None:
        env["SPARK_CONF_DIR"] = str(conf_dir)
    cwd = tmp_path / "cwd"
    cwd.mkdir(exist_ok=True)
    r = subprocess.run(
        [sys.executable, "-c", SCRIPT, mode, json.dumps(extra or {})],
        env=env, cwd=cwd, capture_output=True, text=True, timeout=300,
    )
    assert r.returncode == 0, r.stderr[-3000:]
    assert "[cds" not in r.stderr + r.stdout
    assert not glob.glob(str(cwd / "hs_err_pid*.log"))
    return json.loads(r.stdout.strip().splitlines()[-1])


def cds_args(run_out):
    return [a for a in run_out["args"] if any(f in a for f in CDS_FLAGS)]


def cds_files(cache):
    d = cache / "gdal_spark" / "cds"
    return sorted(p.name for p in d.iterdir() if p.name != "conf") if d.is_dir() else []


@pytest.fixture(scope="module")
def primed(tmp_path_factory):
    """A cold start (dump), then a second start that promotes and maps
    the archive; keeps the caller's own JVM option."""
    tmp = tmp_path_factory.mktemp("cds_primed")
    cache = tmp / "cache"
    cold = run(tmp, cache)
    after_cold = cds_files(cache)
    log = tmp / "class_load.log"
    opts = f"-Dgdal.cds.test=1 -Xlog:class+load=info:file={log}"
    warm = run(tmp, cache, extra={"spark.driver.extraJavaOptions": opts})
    return cache, cold, after_cold, warm, log.read_text()


def copy_cache(primed_cache, dst):
    """The primed cache, hard-linked, for cases that must not write
    into it."""
    shutil.copytree(primed_cache, dst, copy_function=os.link)
    return dst


def archive_of(cache):
    (jsa,) = glob.glob(str(cache / "gdal_spark" / "cds" / "*.jsa"))
    return jsa


def test_cold_start_dumps_then_maps(primed):
    cache, cold, after_cold, warm, class_load = primed
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in cds_args(cold))
    # the finished dump waits, with its JVM's record, for the next launch
    assert [n.rsplit(".", 1)[1] for n in after_cold] == ["json", "tmp"]
    assert any(a.startswith("-XX:SharedArchiveFile=") for a in cds_args(warm))
    assert "-XX:+VerifySharedSpaces" in warm["args"]
    assert "-Dgdal.cds.test=1" in warm["args"]
    files = cds_files(cache)
    assert [n.split(".", 1)[1] for n in files] == ["jsa", "json"]
    assert os.path.getsize(archive_of(cache)) > 50 << 20
    # Spark's classes really come from the archive
    assert "org.apache.spark.SparkContext source: shared objects file (top)" in class_load


def test_truncated_dump_is_never_promoted(primed, tmp_path):
    """A finished dump cut in half, of a JVM that is gone: deleted, not
    promoted, and this launch dumps afresh."""
    cache = tmp_path / "cache"
    d = cache / "gdal_spark" / "cds"
    (d / "conf").mkdir(parents=True)
    src = archive_of(primed[0])
    key = os.path.basename(src).split(".")[0]
    with open(src, "rb") as f, open(d / f"{key}.cut.tmp", "wb") as g:
        g.write(f.read(os.path.getsize(src) // 2))
    gone = subprocess.Popen(["true"])
    gone.wait()
    rec = {"pid": gone.pid, "class_path": primed[1]["class_path"]}
    (d / f"{key}.cut.json").write_text(json.dumps(rec))
    out = run(tmp_path, cache)
    assert any(a.startswith("-XX:ArchiveClassesAtExit=") for a in cds_args(out))
    assert not [n for n in cds_files(cache) if ".cut." in n or n.endswith(".jsa")]


def rewrite(path, data):
    os.remove(path)  # the JVM writes archives read-only
    with open(path, "wb") as f:
        f.write(data)


def test_bit_flipped_archive_still_gives_a_session(primed, tmp_path):
    """One flipped bit per MiB past the header: without the checksum
    check (-XX:+VerifySharedSpaces) the JVM maps it and crashes. Runs
    in the primed cache: the archive records its class path, which
    names the cache's conf directory, so a copy elsewhere is never
    mapped."""
    jsa = archive_of(primed[0])
    with open(jsa, "rb") as f:
        good = f.read()
    bad = bytearray(good)
    for i in range(8 << 10, len(bad), 1 << 20):
        bad[i] ^= 0x10
    rewrite(jsa, bad)
    try:
        out = run(tmp_path, primed[0])
    finally:
        rewrite(jsa, good)
    assert any(a.startswith("-XX:SharedArchiveFile=") for a in cds_args(out))


def test_real_conf_file_gives_no_cds_flags(primed, tmp_path):
    cache = copy_cache(primed[0], tmp_path / "cache")
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.ui.showConsoleProgress false\n")
    before = cds_files(cache)
    assert cds_args(run(tmp_path, cache, conf_dir=conf)) == []
    assert cds_files(cache) == before


def test_caller_xshare_off_is_respected(primed, tmp_path):
    cache = copy_cache(primed[0], tmp_path / "cache")
    before = cds_files(cache)
    opts = "-Xshare:off -Dgdal.cds.test=1"
    out = run(tmp_path, cache, extra={"spark.driver.extraJavaOptions": opts})
    assert cds_args(out) == ["-Xshare:off"]
    assert "-Dgdal.cds.test=1" in out["args"]
    assert cds_files(cache) == before


def test_existing_gateway_is_left_alone(tmp_path):
    cache = tmp_path / "cache"
    assert cds_args(run(tmp_path, cache, mode="gateway_first")) == []
    assert cds_files(cache) == []


@pytest.mark.parametrize(
    "conf, env",
    [
        ({}, {"PYSPARK_GATEWAY_PORT": "1"}),
        ({"spark.jars": "/x.jar"}, {}),
        ({"spark.driver.extraClassPath": "/x"}, {}),
        ({"spark.driver.extraJavaOptions": "-XX:SharedArchiveFile=/x.jsa"}, {}),
        ({}, {"SPARK_DIST_CLASSPATH": "/x"}),
        ({}, {"JAVA_TOOL_OPTIONS": "-Xshare:off"}),
    ],
)
def test_launches_that_stay_as_they_are(conf, env, tmp_path, monkeypatch):
    monkeypatch.setattr(SparkContext, "_gateway", None)
    monkeypatch.setenv("XDG_CACHE_HOME", str(tmp_path))
    assert DriverArchive.for_launch({}) is not None
    for k, v in env.items():
        monkeypatch.setenv(k, v)
    assert DriverArchive.for_launch(conf) is None
