"""SparkSession factory.

Local test profile mirrors what the driver uses (local[N], AQE on,
shuffle partitions sized to cores, Arrow enabled for pandas-UDF stages).
On a real cluster the same builder applies; only master/memory change.

Scale notes (100 TB):
- AQE handles skew-join splitting and partition coalescing at runtime.
- `spark.sql.files.maxPartitionBytes` 128m keeps scan tasks bounded.
- shuffle partitions: set explicitly per-job for the big shuffles
  (locally one per CPU; a 1000-executor cluster wants ~2-4x cores).

Local file store: without libhadoop, Hadoop's stock `file:` store forks
`chmod` for every file create and mkdir and `ls -ld`/`readlink` for
every permission read and FileContext rename, about 3.5 ms each; a
streaming fire's offset log and parquet commit make about a hundred of
them. A `local[...]` session started here uses `jvm/NioRawLocalFileSystem`
instead, which makes the same calls as syscalls and keeps Hadoop's
checksums, rename and permission bits. Its classes are compiled once
with the JDK's `javac` into `jvm/build/<key>/`; with no `javac`, a
read-only checkout or a non-local master, the stock store stays.

Call-site capture: `spark.python.sql.dataFrameDebugging.enabled` is
off. When on (Spark's default), every `F.*` call captures its call site
through about four py4j round trips; a scheduled `run_extraction` over a
small inbox builds about 150 Columns, and its plan construction went
from 368 to 255 ms without them. It is a static conf, so it is set in
the builder.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import re
import shutil
import subprocess
import tempfile
from pathlib import Path

import pyspark
from pyspark import SparkContext
from pyspark.sql import SparkSession

_JVM_DIR = Path(__file__).with_name("jvm")
_NIO_SOURCE = _JVM_DIR / "NioRawLocalFileSystem.java"
_NIO_CLASS = "unstract_spark.jvm.NioRawLocalFileSystem"


def _nio_classes() -> str | None:
    """The directory holding the compiled NIO store, compiled on first use.

    Keyed on the source, the JDK and the Hadoop jar, so a change to any
    of them compiles afresh. The compile writes a temporary directory and
    renames it into place, so concurrent sessions never see half a build.
    None (and one warning) when it cannot be built here."""
    java_home = os.environ.get("JAVA_HOME") or os.path.dirname(
        os.path.dirname(os.path.realpath(shutil.which("java") or "java"))
    )
    javac = os.path.join(java_home, "bin", "javac")
    spark_home = os.environ.get("SPARK_HOME") or os.path.dirname(pyspark.__file__)
    hadoop_jars = sorted(glob.glob(os.path.join(spark_home, "jars", "hadoop-client-api-*.jar")))
    if not (os.access(javac, os.X_OK) and hadoop_jars):
        logging.getLogger(__name__).warning(
            "no javac in %s or no Hadoop jar under %s: keeping Hadoop's forking file: store",
            java_home,
            spark_home,
        )
        return None
    key = hashlib.sha256(_NIO_SOURCE.read_bytes())
    release = Path(java_home, "release")
    key.update(release.read_bytes() if release.exists() else java_home.encode())
    key.update(os.path.basename(hadoop_jars[-1]).encode())
    out = _JVM_DIR / "build" / key.hexdigest()[:16]
    if out.is_dir():
        return str(out)
    try:
        out.parent.mkdir(parents=True, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=".tmp-", dir=out.parent)
        try:
            subprocess.run(
                [javac, "-J-XX:TieredStopAtLevel=1", "-nowarn", "-cp", hadoop_jars[-1], "-d", tmp, str(_NIO_SOURCE)],
                check=True,
                capture_output=True,
                timeout=300,
            )
            os.rename(tmp, out)
        except OSError:
            if not out.is_dir():  # else a concurrent session's build won the rename
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    except (OSError, subprocess.SubprocessError) as e:
        logging.getLogger(__name__).warning(
            "cannot build %s (%s %s): keeping Hadoop's forking file: store", out, e, getattr(e, "stderr", "")
        )
        return None
    return str(out)


def _local_store_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """The settings that make a new local session use the NIO file: store.

    Only a `local[...]` master runs its executors in the driver JVM, whose
    class path this can extend, and only before that JVM's SparkContext
    starts. The store's two Hadoop keys must never reach a JVM without
    its classes (every file read would raise ClassNotFound): a JVM that is
    already up gets them only if it can load the classes."""
    if not re.fullmatch(r"local(\[.*\])?", master) or SparkContext._active_spark_context is not None:
        return {}
    classes = _nio_classes()
    if classes is None:
        return {}
    if SparkContext._gateway is not None and not SparkContext._jvm.org.apache.spark.util.Utils.classIsLoadable(
        _NIO_CLASS
    ):
        return {}
    class_path = extra_conf.get("spark.driver.extraClassPath")
    return {
        "spark.driver.extraClassPath": os.pathsep.join([classes, class_path] if class_path else [classes]),
        "spark.hadoop.fs.file.impl": f"{_NIO_CLASS}$Local",
        "spark.hadoop.fs.AbstractFileSystem.file.impl": f"{_NIO_CLASS}$Fs",
    }


def get_spark(
    app_name: str = "unstract_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine session.

    Defaults come from env so the driver/bench can steer without code
    changes: SPARK_GRAFT_CPUS controls local parallelism and defaults to
    the CPUs this process may run on.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS") or len(os.sched_getaffinity(0)))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        # Spark 4.1's UnionExec partitioning propagation
        # (spark.sql.unionOutputPartitioning, default true) claims the
        # children's common hash partitioning for the union's
        # CONCATENATED (n_children x P)-partition output; a downstream
        # sort-merge join then skips its exchange and dies in
        # zipPartitions ("Can't zip RDDs with unequal numbers of
        # partitions: List(3P, P)"). Reproduced on 4.1.2 with three
        # co-partitioned-on-doc_id union branches joined back on
        # doc_id (dedup.remove_duplicated_spans). Engine sessions turn
        # the feature off; operators that union co-partitioned
        # branches also carry a structural shield for vanilla
        # sessions.
        .config("spark.sql.unionOutputPartitioning", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "16g"))
    )
    extra_conf = dict(extra_conf or {})
    extra_conf.update(_local_store_conf(master, extra_conf))
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
