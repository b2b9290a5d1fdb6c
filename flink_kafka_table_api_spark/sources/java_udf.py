"""Build and register the engine's one Avro codec: the JVM UDFs in
java/fkta/.

``decode_avro_column``, ``encode_avro_column`` and
``upsert_kafka_payload`` run every payload through
``fkta.ConfluentAvroDecode`` and ``fkta.ConfluentAvroEncode``; there is no
other codec path. The UDFs are compiled with ``javac`` against the
``avro-1.12`` jar that ships inside pyspark, so no external artifact
(spark-avro) is needed. The decoder owns the whole schema-id policy
(allowlist, writer map, live registry, mixed-id guard) as per-task
instance state; see its class doc. sources/avro_codec.py stays as the
plain-Python reference codec that the tests compare against.

Build model: compile iff the jar is missing or older than any .java
source, into ``build/`` (gitignored: the jar is an artifact, the source is
the deliverable). Registration is per SparkSession: ``ADD JAR`` once,
then one ``registerJavaFunction`` per decode policy and one per encode
spec (schema and id). A decode function's struct return type depends on
the reader schema, and both UDFs keep their parsed schema as instance
state, so two policies or specs never share a function name.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import tempfile
from typing import Optional

from pyspark.sql import Column, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import BinaryType

_REPO_ROOT = os.path.dirname(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
)
_JAVA_SRC_DIR = os.path.join(_REPO_ROOT, "java")
_JAR_PATH = os.path.join(_REPO_ROOT, "build", "fkta-avro-udf.jar")

DECODE_CLASS = "fkta.ConfluentAvroDecode"
ENCODE_CLASS = "fkta.ConfluentAvroEncode"

# process-local registration caches, keyed by Spark applicationId so a
# fresh session after a restart re-registers cleanly
_JARS_ADDED: set[str] = set()
_REGISTERED: set[tuple[str, str]] = set()
_BUILD_FAILED = False


def _java_sources() -> list[str]:
    if not os.path.isdir(_JAVA_SRC_DIR):
        return []
    out = []
    for root, _dirs, files in os.walk(_JAVA_SRC_DIR):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".java"))
    return sorted(out)


def _pyspark_jars_dir() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def ensure_built(force: bool = False) -> Optional[str]:
    """Compile java/fkta/*.java into build/fkta-avro-udf.jar if missing or
    stale. Returns the jar path, or None when it cannot be built (no javac,
    no sources, compile error); registration then raises. Failures are
    remembered so a broken toolchain costs one attempt per process, not
    one per query."""
    global _BUILD_FAILED
    sources = _java_sources()
    if not sources or _BUILD_FAILED:
        return None
    src_mtime = max(os.path.getmtime(s) for s in sources)
    if (
        not force
        and os.path.exists(_JAR_PATH)
        and os.path.getmtime(_JAR_PATH) >= src_mtime
    ):
        return _JAR_PATH
    javac = shutil.which("javac")
    jar_tool = shutil.which("jar")
    if javac is None or jar_tool is None:
        return None
    try:
        os.makedirs(os.path.dirname(_JAR_PATH), exist_ok=True)
        with tempfile.TemporaryDirectory(prefix="fkta-javac-") as tmp:
            classes = os.path.join(tmp, "classes")
            os.makedirs(classes)
            subprocess.run(
                [javac, "-encoding", "UTF-8",
                 "-cp", os.path.join(_pyspark_jars_dir(), "*"),
                 "-d", classes, *sources],
                check=True, capture_output=True, timeout=120,
            )
            tmp_jar = os.path.join(tmp, "out.jar")
            subprocess.run(
                [jar_tool, "cf", tmp_jar, "-C", classes, "."],
                check=True, capture_output=True, timeout=60,
            )
            # atomic publish so a concurrent reader never sees a torn jar
            os.replace(tmp_jar, _JAR_PATH)
        return _JAR_PATH
    except Exception:
        _BUILD_FAILED = True
        return None


def _register(spark: SparkSession, fname: str, cls: str, return_type) -> str:
    app_id = spark.sparkContext.applicationId
    if (app_id, fname) in _REGISTERED:
        return fname
    jar = ensure_built()
    if jar is None:
        raise RuntimeError(
            "the JVM Avro codec in java/fkta/ could not be built: it needs "
            "javac and jar from a JDK on PATH"
        )
    if app_id not in _JARS_ADDED:
        spark.sql(f"ADD JAR 'file://{jar}'")
        _JARS_ADDED.add(app_id)
    spark.udf.registerJavaFunction(fname, cls, return_type)
    _REGISTERED.add((app_id, fname))
    return fname


def decode_policy(
    reader_schema_json: str,
    *,
    header_len: int = 5,
    writer_schemas: dict[int, str] | None = None,
    expected_schema_ids: list[int] | None = None,
    schema_registry_url: str | None = None,
) -> bytes:
    """The decode UDF's policy argument: a UTF-8 JSON object. It travels
    as a binary literal, which Spark hands to the UDF without a per-row
    conversion."""
    return json.dumps({
        "reader": reader_schema_json,
        "header": header_len,
        "writers": (
            {str(int(i)): s for i, s in sorted(writer_schemas.items())}
            if writer_schemas else None
        ),
        "expected": (
            sorted(int(i) for i in expected_schema_ids)
            if expected_schema_ids is not None else None
        ),
        "registry": (
            schema_registry_url.rstrip("/") if schema_registry_url else None
        ),
    }, sort_keys=True).encode()


def decode_fn_name(policy: bytes) -> str:
    return f"fkta_avro_decode_{hashlib.md5(policy).hexdigest()[:10]}"


def ensure_decode_registered(
    spark: SparkSession, reader_schema_json: str, policy: bytes | None = None
) -> str:
    """Register the decode UDF for this policy (default: framed, nothing
    declared) and return its SQL function name. Raises RuntimeError when
    the codec jar cannot be built."""
    from flink_kafka_table_api_spark.avro_schema import avro_to_struct

    if policy is None:
        policy = decode_policy(reader_schema_json)
    return _register(spark, decode_fn_name(policy), DECODE_CLASS,
                     avro_to_struct(reader_schema_json))


def encode_spec(avro_schema_json: str, schema_id: int | None = None) -> bytes:
    """The encode UDF's spec argument: a UTF-8 JSON object, passed as a
    binary literal like the decode policy."""
    return json.dumps({
        "schema": avro_schema_json,
        "id": int(schema_id) if schema_id is not None else None,
    }, sort_keys=True).encode()


def encode_fn_name(spec: bytes) -> str:
    return f"fkta_avro_encode_{hashlib.md5(spec).hexdigest()[:10]}"


def ensure_encode_registered(
    spark: SparkSession, avro_schema_json: str, schema_id: int | None = None
) -> str:
    """Register the encode UDF for this schema and id and return its SQL
    function name. Raises RuntimeError when the codec jar cannot be
    built."""
    spec = encode_spec(avro_schema_json, schema_id)
    return _register(spark, encode_fn_name(spec), ENCODE_CLASS, BinaryType())


def decode_column(
    spark: SparkSession, payload: Column, reader_schema_json: str, **declared
) -> Column:
    """``payload`` decoded to the reader schema's struct; ``declared`` is
    decode_policy's keywords."""
    policy = decode_policy(reader_schema_json, **declared)
    fname = ensure_decode_registered(spark, reader_schema_json, policy)
    return F.call_udf(fname, payload, F.lit(policy))


def encode_column(
    spark: SparkSession, avro_schema_json: str, schema_id: int | None = None
) -> Column:
    """The columns named by the schema's fields, Avro-encoded, with the
    Confluent header when ``schema_id`` is given. The struct is built in
    the schema's field order, because the encoder reads fields by
    position."""
    fields = [f["name"] for f in json.loads(avro_schema_json)["fields"]]
    return F.call_udf(
        ensure_encode_registered(spark, avro_schema_json, schema_id),
        F.struct(*[F.col(f) for f in fields]),
        F.lit(encode_spec(avro_schema_json, schema_id)),
    )
