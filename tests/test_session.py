"""Session construction: the generated-code cache holds a warm pass,
locked confs are reported, and the driver JVM's class-data archive is
built, mapped and turned off safely."""

from __future__ import annotations

import json
import os
import subprocess
import sys
from pathlib import Path
from types import SimpleNamespace

import pytest
from pyspark.sql import functions as F

from elb_log_to_mysql_spark.session import (
    CLASS_ARCHIVE_DIR,
    CODEGEN_CACHE_ENTRIES,
    ENGINE_CONF,
    tune_session,
)


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_build_session_sizes_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(
        CODEGEN_CACHE_ENTRIES
    )


def test_warm_corpus_pass_reuses_compiled_classes(spark, sf_dir):
    """The four batch corpus cells, run a second time in the same
    session, find their generated classes in the cache instead of
    recompiling them (Spark's 100-entry default recompiled ~250)."""
    from elb_log_to_mysql_spark.operators import dedup, similarity
    from elb_log_to_mysql_spark.queries import QUERIES
    from elb_log_to_mysql_spark.sources.tables import load_table

    def corpus_pass():
        QUERIES["ngram_jaccard"](spark, sf_dir).collect()
        dedup.near_dedup_minhash(load_table(spark, sf_dir, "documents")).collect()
        emb = load_table(spark, sf_dir, "embeddings")
        similarity.similarity_topk_lsh(
            emb, emb.filter(F.col("vec_id") < 20), k=10, n_planes=3, n_tables=24
        ).collect()
        QUERIES["corpus_pipeline"](spark, sf_dir).collect()

    corpus_pass()
    before = _compiles(spark)
    corpus_pass()
    assert _compiles(spark) - before <= 5


def test_tune_session_warns_on_a_locked_conf():
    """A conf the caller has locked keeps its value and says so; the
    other engine confs are still applied."""
    locked = "spark.sql.ansi.enabled"

    class Conf:
        def __init__(self):
            self.values = {}

        def set(self, key, value):
            if key == locked:
                raise RuntimeError("locked by the caller")
            self.values[key] = value

    spark = SimpleNamespace(conf=Conf())
    with pytest.warns(UserWarning, match=r"spark\.sql\.ansi\.enabled.*RuntimeError"):
        tune_session(spark)
    assert spark.conf.values == {k: v for k, v in ENGINE_CONF if k != locked}


# -- the driver JVM's class-data archive ---------------------------------
# Each case starts the JVM in a fresh process, with its cache dir under
# tmp_path, and prints what that JVM was started with.

ROOT = Path(__file__).resolve().parent.parent
PROBE = """
import json, os, sys
from elb_log_to_mysql_spark.session import build_session

spark = build_session(app_name="cds-probe", master="local[2]", shuffle_partitions=2,
                      extra_conf=json.loads(sys.argv[1]))
jvm = spark._jvm
rows = spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().orderBy("k")
print(json.dumps({
    "args": list(jvm.java.lang.management.ManagementFactory.getRuntimeMXBean().getInputArguments()),
    "class_path": jvm.java.lang.System.getProperty("java.class.path"),
    "conf_dir": os.environ.get("SPARK_CONF_DIR"),
    "pid": jvm.java.lang.ProcessHandle.current().pid(),
    "rows": [[r[0], r[1]] for r in rows.collect()],
}))
"""
EXPECTED_ROWS = [[k, len(range(k, 1000, 7))] for k in range(7)]


def _probe(cache, extra_conf=None, **env):
    proc = subprocess.run(
        [sys.executable, "-c", PROBE, json.dumps(extra_conf or {})],
        env={**os.environ, "PYTHONPATH": str(ROOT), "XDG_CACHE_HOME": str(cache),
             "SPARK_DRIVER_MEMORY": "1g", **env},
        capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    out = json.loads(proc.stdout.strip().splitlines()[-1])
    assert out["rows"] == EXPECTED_ROWS
    return out


def _cds_options(out):
    return [a for a in out["args"] if "SharedArchiveFile" in a or "DumpLoadedClassList" in a]


@pytest.fixture(scope="module")
def built_archive(tmp_path_factory):
    """A process that finds no archive: it records its class list and
    builds the archive after its JVM exits. The caller's own driver
    options stay alongside the recording option."""
    cache = tmp_path_factory.mktemp("xdg")
    tmp = tmp_path_factory.mktemp("jvm-tmp")
    out = _probe(cache, {"spark.driver.extraJavaOptions": f"-Xms256m -Djava.io.tmpdir={tmp}"})
    files = sorted(p.name for p in (cache / CLASS_ARCHIVE_DIR).iterdir())
    return cache, out, files


def test_first_process_builds_the_archive_at_exit(built_archive):
    cache, out, files = built_archive
    assert "-Xms256m" in out["args"]
    assert any(a.startswith("-Djava.io.tmpdir=") for a in out["args"])
    [opt] = _cds_options(out)
    assert opt.startswith("-XX:DumpLoadedClassList=")
    # only the archive and the empty conf dir remain; the JVM is gone
    assert len(files) == 2 and "conf" in files
    [jsa] = [f for f in files if f.endswith(".jsa")]
    assert (cache / CLASS_ARCHIVE_DIR / jsa).stat().st_size > 0
    assert not Path(f"/proc/{out['pid']}").exists()
    assert Path(out["class_path"].split(os.pathsep)[0]) == cache / CLASS_ARCHIVE_DIR / "conf"
    assert out["conf_dir"] == os.environ.get("SPARK_CONF_DIR")


def test_next_process_maps_the_archive(built_archive, tmp_path):
    cache, _, files = built_archive
    [jsa] = [f for f in files if f.endswith(".jsa")]
    log = tmp_path / "class-load.log"
    out = _probe(cache, {"spark.driver.extraJavaOptions":
                         f"-Xms256m -Xlog:class+load=info:file={log}"})
    assert "-Xms256m" in out["args"]
    assert _cds_options(out) == [f"-XX:SharedArchiveFile={cache / CLASS_ARCHIVE_DIR / jsa}"]
    loads = log.read_text()
    assert "org.apache.spark.SparkContext source: shared objects file" in loads


def test_truncated_archive_still_starts(built_archive, tmp_path):
    """An archive cut short (a disk that filled up, say) is refused by
    the JVM, which then loads every class from the jars."""
    src_cache, _, files = built_archive
    [jsa] = [f for f in files if f.endswith(".jsa")]
    (tmp_path / CLASS_ARCHIVE_DIR).mkdir()
    with open(src_cache / CLASS_ARCHIVE_DIR / jsa, "rb") as f:
        (tmp_path / CLASS_ARCHIVE_DIR / jsa).write_bytes(f.read(1 << 20))
    out = _probe(tmp_path)
    assert _cds_options(out) == [f"-XX:SharedArchiveFile={tmp_path / CLASS_ARCHIVE_DIR / jsa}"]


def test_conf_dir_with_settings_turns_the_archive_off(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "notes.txt").write_text("not a template\n")
    out = _probe(tmp_path / "xdg", SPARK_CONF_DIR=str(conf))
    assert _cds_options(out) == []
    assert out["conf_dir"] == str(conf)
    assert Path(out["class_path"].split(os.pathsep)[0]) == conf
    assert not (tmp_path / "xdg" / CLASS_ARCHIVE_DIR).exists()


def test_unwritable_cache_dir_turns_the_archive_off(tmp_path):
    not_a_dir = tmp_path / "cache-file"
    not_a_dir.write_text("")
    out = _probe(not_a_dir)
    assert _cds_options(out) == []
