"""Session helpers: make the package importable on executors + tuned defaults.

Pandas UDFs reference module-level functions, which cloudpickle serializes *by
reference* — executors must be able to ``import sparkrdf``. Under
``spark-submit --py-files sparkrdf.zip`` that's automatic; for interactive /
driver-embedded use, :func:`ensure_pyfiles` ships the package to executors via
``sc.addPyFile`` (idempotent per application).
"""

from __future__ import annotations

import os
import tempfile
import zipfile

_SHIPPED: set[str] = set()


def package_zip(path: str | None = None) -> str:
    """Zip the sparkrdf package (sources only) for --py-files / addPyFile."""
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    if path is None:
        path = os.path.join(tempfile.gettempdir(), "sparkrdf-pyfiles.zip")
    srcs = []
    for root, _dirs, files in os.walk(pkg_dir):
        for f in sorted(files):
            if f.endswith(".py"):
                full = os.path.join(root, f)
                rel = os.path.join("sparkrdf", os.path.relpath(full, pkg_dir))
                srcs.append((full, rel))
    newest = max(os.path.getmtime(s) for s, _ in srcs)
    if not os.path.exists(path) or os.path.getmtime(path) < newest:
        tmp = path + ".tmp"
        with zipfile.ZipFile(tmp, "w") as z:
            for full, rel in srcs:
                z.write(full, rel)
        os.replace(tmp, path)
    return path


def ensure_pyfiles(spark) -> None:
    """Ship the package to executors once per application (no-op afterwards)."""
    sc = spark.sparkContext
    app = sc.applicationId
    if app in _SHIPPED:
        return
    try:
        sc.addPyFile(package_zip())
    except Exception:
        # already added with a different path, or a cluster that forbids it —
        # --py-files at submit time is the production path anyway
        pass
    _SHIPPED.add(app)


_FARMHASH_JAVA = """\
package sparkrdf;

import com.google.common.hash.Hashing;
import java.nio.charset.StandardCharsets;
import org.apache.spark.sql.api.java.UDF1;

/**
 * FarmHash Fingerprint64 document key as a JVM UDF: unsigned-decimal string
 * of Guava's farmHashFingerprint64 over the UTF-8 bytes — byte-identical to
 * the reference's str(farmhash.Fingerprint64(id)) and to the vendored
 * Python implementation (pinned by tests/test_hashing.py against this very
 * Guava function). Running the hash in the JVM keeps the statement stream
 * out of the Python workers entirely — no Arrow round-trip on the hot path.
 */
public class FarmHashKey implements UDF1<String, String> {
    @Override
    public String call(String s) {
        if (s == null) {
            return null;
        }
        long h = Hashing.farmHashFingerprint64()
                .hashString(s, StandardCharsets.UTF_8)
                .asLong();
        return Long.toUnsignedString(h);
    }
}
"""

_VECOPS_JAVA = """\
package sparkrdf;

import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Seq;

/**
 * Exact-fold vector dot product as a compiled JVM loop. Floating-point
 * semantics are IDENTICAL to the Catalyst higher-order-function form
 * aggregate(zip_with(a, b, (x, y) -> x * y), 0.0D, (acc, v) -> acc + v):
 * left-to-right accumulation starting at +0.0, element widening
 * float->double (exact), and the zip_with null contract reproduced — a
 * NULL array, a NULL element, or a length mismatch (zip_with null-pads
 * the shorter side, so the product and therefore the whole fold go NULL)
 * all yield NULL. The point is per-pair cost: the Catalyst HOF path is
 * interpreted per element (CodegenFallback); this is a JIT-compiled loop.
 */
public class VecDot implements UDF2<Seq<Object>, Seq<Object>, Double> {
    @Override
    public Double call(Seq<Object> a, Seq<Object> b) {
        if (a == null || b == null || a.size() != b.size()) {
            return null;
        }
        int n = a.size();
        double acc = 0.0;
        for (int i = 0; i < n; i++) {
            Object x = a.apply(i);
            Object y = b.apply(i);
            if (x == null || y == null) {
                return null;
            }
            acc += ((Number) x).doubleValue() * ((Number) y).doubleValue();
        }
        return acc;
    }
}
"""

_VECSQD_JAVA = """\
package sparkrdf;

import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Seq;

/**
 * Exact-fold squared euclidean distance (companion of VecDot): identical
 * floating-point semantics to aggregate(zip_with(a, b,
 * (x, y) -> (x - y) * (x - y)), 0.0D, (acc, v) -> acc + v).
 */
public class VecSqDist implements UDF2<Seq<Object>, Seq<Object>, Double> {
    @Override
    public Double call(Seq<Object> a, Seq<Object> b) {
        if (a == null || b == null || a.size() != b.size()) {
            return null;
        }
        int n = a.size();
        double acc = 0.0;
        for (int i = 0; i < n; i++) {
            Object x = a.apply(i);
            Object y = b.apply(i);
            if (x == null || y == null) {
                return null;
            }
            double d = ((Number) x).doubleValue() - ((Number) y).doubleValue();
            acc += d * d;
        }
        return acc;
    }
}
"""


_UDF_SOURCES = (
    ("FarmHashKey", _FARMHASH_JAVA),
    ("VecDot", _VECOPS_JAVA),
    ("VecSqDist", _VECSQD_JAVA),
)


def _jar_has_udfs(path: str) -> bool:
    try:
        with zipfile.ZipFile(path) as z:
            names = set(z.namelist())
    except (OSError, zipfile.BadZipFile):
        return False
    return all(f"sparkrdf/{cls}.class" in names for cls, _ in _UDF_SOURCES)


def ensure_farmhash_jar() -> str | None:
    """Compile the JVM UDFs (farmhash key, vector folds) into a jar cached
    in the temp dir as ``sparkrdf-udfs-<sha256 of the Java sources>.jar``:
    edited sources get a new name, and a cached jar missing any UDF class is
    rebuilt. Returns None when no javac is available — callers fall back to
    the Arrow-batched Python UDFs and the HOF vector folds."""
    import hashlib
    import shutil
    import subprocess

    javac = shutil.which("javac")
    if javac is None:
        return None
    digest = hashlib.sha256()
    for cls, code in _UDF_SOURCES:
        digest.update(f"{cls}\0{code}\0".encode())
    jar_dir = tempfile.gettempdir()
    jar_path = os.path.join(jar_dir, f"sparkrdf-udfs-{digest.hexdigest()}.jar")
    if _jar_has_udfs(jar_path):
        return jar_path
    try:
        import pyspark

        spark_jars = os.path.join(os.path.dirname(pyspark.__file__), "jars")
        with tempfile.TemporaryDirectory() as tmp:
            src_dir = os.path.join(tmp, "sparkrdf")
            os.makedirs(src_dir)
            srcs = []
            for cls, code in _UDF_SOURCES:
                src = os.path.join(src_dir, f"{cls}.java")
                with open(src, "w", encoding="utf-8") as f:
                    f.write(code)
                srcs.append(src)
            out = os.path.join(tmp, "classes")
            os.makedirs(out)
            subprocess.run(
                [javac, "-cp", os.path.join(spark_jars, "*"), "-d", out, *srcs],
                check=True,
                capture_output=True,
                timeout=120,
            )
            # a unique temp name in the target dir, then an atomic rename:
            # concurrent builders never read each other's half-written jar
            fd, tmp_jar = tempfile.mkstemp(suffix=".jar.tmp", dir=jar_dir)
            try:
                with os.fdopen(fd, "wb") as fh, zipfile.ZipFile(fh, "w") as z:
                    for root, _dirs, files in os.walk(out):
                        for fn in sorted(files):
                            full = os.path.join(root, fn)
                            z.write(full, os.path.relpath(full, out))
                os.replace(tmp_jar, jar_path)
            except BaseException:
                os.unlink(tmp_jar)
                raise
        return jar_path
    except Exception:
        return None


def _shm_has_headroom(min_free_bytes: int = 8 << 30) -> bool:
    """tmpfs is capped (~50% RAM): redirecting shuffle/spill there without a
    capacity check trades disk-speed wins for no-space-left failures. Only
    use /dev/shm when it has real headroom; SPARKRDF_NO_SHM=1 opts out."""
    try:
        st = os.statvfs("/dev/shm")
        return st.f_bavail * st.f_frsize >= min_free_bytes
    except OSError:
        return False


def get_spark(app_name: str = "sparkrdf", master: str | None = None, **extra_conf):
    """Opinionated local/session builder with the scale-oriented defaults:
    AQE (incl. skew-join splitting), sane shuffle partitioning, Arrow enabled.
    """
    from pyspark.sql import SparkSession

    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.driver.memory", os.environ.get("SPARKRDF_DRIVER_MEM", "8g"))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # bigger Arrow batches amortize the per-batch Python handoff (worker
        # dispatch, factorize setup) in the hash/NER UDFs — the measured
        # residual in the 2→8-core scaling gap (BENCH.md); 64k string rows
        # is still only ~10-20 MB per batch
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "65536")
        .config("spark.sql.shuffle.partitions", str(max(2 * cpus, 8)))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
    )
    # Local mode only: shuffle/spill to tmpfs when available. A single
    # shared disk is an Amdahl term that caps multi-core scaling; RAM-backed
    # scratch scales with cores. Real clusters manage SPARK_LOCAL_DIRS
    # themselves (per-node SSD arrays), so never override there.
    is_local = (master or "").startswith("local") or (
        not master and not os.environ.get("SPARK_MASTER")
    )
    if (
        is_local
        and "spark.local.dir" not in extra_conf
        and not os.environ.get("SPARKRDF_NO_SHM")
        and os.access("/dev/shm", os.W_OK)
        and _shm_has_headroom()
    ):
        shm = "/dev/shm/sparkrdf-local"
        os.makedirs(shm, exist_ok=True)
        builder = builder.config("spark.local.dir", shm)
    # JVM farmhash UDF jar: spark.jars ships it to executors; the driver
    # needs it on its own classpath BEFORE JVM launch for
    # registerJavaFunction to resolve the class (on a real cluster, pass
    # --jars at submit; everything degrades to the Python UDFs otherwise)
    if not os.environ.get("SPARKRDF_NO_JVM_HASH"):
        fh_jar = ensure_farmhash_jar()
        if fh_jar:
            prior = extra_conf.get("spark.jars", "")
            extra_conf["spark.jars"] = f"{prior},{fh_jar}" if prior else fh_jar
            prior_cp = extra_conf.get("spark.driver.extraClassPath", "")
            extra_conf["spark.driver.extraClassPath"] = (
                f"{prior_cp}:{fh_jar}" if prior_cp else fh_jar
            )
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER"):
        builder = builder.master(f"local[{cpus}]")
    for k, v in extra_conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    ensure_pyfiles(spark)
    return spark
