package fkta;

import java.io.IOException;
import java.io.InputStream;
import java.io.UncheckedIOException;
import java.math.BigDecimal;
import java.math.BigInteger;
import java.net.HttpURLConnection;
import java.net.URI;
import java.nio.ByteBuffer;
import java.time.Instant;
import java.time.LocalDate;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;
import java.util.Set;
import java.util.TreeSet;
import java.util.concurrent.ConcurrentHashMap;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;

import org.apache.avro.AvroRuntimeException;
import org.apache.avro.LogicalType;
import org.apache.avro.LogicalTypes;
import org.apache.avro.Schema;
import org.apache.avro.generic.GenericDatumReader;
import org.apache.avro.generic.GenericFixed;
import org.apache.avro.generic.GenericRecord;
import org.apache.avro.io.BinaryDecoder;
import org.apache.avro.io.DecoderFactory;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF2;

/**
 * The engine's one Avro decoder: (optionally Confluent-framed) Avro
 * payloads to a Spark struct, entirely in the JVM. It is compiled in-repo
 * with javac against the avro-1.12 jar that ships inside pyspark
 * (sources/java_udf.py), so no external spark-avro artifact is needed.
 *
 * Reference surface: the 'avro-confluent' Flink format
 * (TransactionProcessor.java:112-115): magic 0x00 + int32 big-endian
 * schema id + Avro binary body. Schema evolution uses Avro's own
 * resolution (GenericDatumReader(writer, reader)), the same rules that the
 * plain-Python reference codec in sources/avro_codec.py implements.
 *
 * Arguments: (payload bytes, policy). The policy is a literal UTF-8 JSON
 * object {"reader": schema JSON, "header": 0 or 5, "writers": {"id":
 * schema JSON} or null, "expected": [id, ...] or null, "registry": url or
 * null}. sources/java_udf.py registers one function name per distinct
 * policy, so an instance only ever sees one policy, and parses it on its
 * first row.
 *
 * Spark deserializes a fresh instance for every task, so the schema-id
 * policy below is kept per task, as instance state:
 * <ul>
 *   <li>"expected": an id outside the allowlist throws
 *       "unexpected Avro schema id";</li>
 *   <li>"writers": an id decodes with its writer schema, projected onto
 *       the reader schema; an id missing from the map throws
 *       "unknown Avro schema id" unless a registry is given;</li>
 *   <li>"registry": a writer schema is fetched with
 *       GET {registry}/schemas/ids/{id} on a miss and cached per JVM, as
 *       Flink's avro-confluent format does;</li>
 *   <li>no writers and no registry: ids decode with the reader schema.
 *       Without an allowlist the first id a task sees is pinned, and any
 *       other id throws "mixed Avro schema ids" rather than mis-decode.</li>
 * </ul>
 *
 * Value conversion mirrors avro_schema.avro_to_struct: enum to String,
 * fixed/bytes to byte[], timestamp-millis/micros to Instant, date to
 * LocalDate, decimal to BigDecimal, uuid to String, unions of [null, T]
 * only.
 */
public class ConfluentAvroDecode implements UDF2<byte[], byte[], Row> {

  private static final ObjectMapper JSON = new ObjectMapper();

  // writer schemas fetched from a registry, keyed by lookup url; a
  // registered id never changes its schema, so the cache is per JVM
  private static final Map<String, Schema> FETCHED = new ConcurrentHashMap<>();
  private static final int REGISTRY_TIMEOUT_MS = 30_000;

  // per-instance (so per-task) state; transient, so the copy Spark
  // serializes from the driver always arrives unparsed
  private transient Schema reader;
  private transient int header;
  private transient Map<Integer, Schema> writers;
  private transient Set<Integer> expected;
  private transient String registry;
  private transient Map<Integer, GenericDatumReader<GenericRecord>> byId;
  private transient int lastId;
  private transient GenericDatumReader<GenericRecord> last;
  private transient BinaryDecoder dec;

  @Override
  public Row call(byte[] payload, byte[] policy) throws Exception {
    if (payload == null) {
      return null;
    }
    if (reader == null) {
      init(policy);
    }
    if (header > 0) {
      if (payload.length < header || payload[0] != 0x00) {
        throw new IllegalArgumentException(
            "payload is not Confluent-framed (magic byte != 0x00)");
      }
      int schemaId = ((payload[1] & 0xff) << 24) | ((payload[2] & 0xff) << 16)
          | ((payload[3] & 0xff) << 8) | (payload[4] & 0xff);
      if (last == null || schemaId != lastId) {
        last = readerFor(schemaId);
        lastId = schemaId;
      }
    }
    dec = DecoderFactory.get().binaryDecoder(
        payload, header, payload.length - header, dec);
    try {
      return (Row) convert(last.read(null, dec), reader);
    } catch (IOException | AvroRuntimeException ex) {
      if (header == 0 || writers != null || registry != null) {
        throw ex;
      }
      // a row-at-a-time UDF cannot look ahead, so a mixed-id topic whose
      // first id was written under another schema fails here, before a
      // second id is seen
      throw new IllegalArgumentException(
          "Avro payload with schema id " + lastId + " does not decode with"
          + " the reader schema: mixed Avro schema ids or an evolved writer"
          + " schema need schema_registry_url or writer_schemas", ex);
    }
  }

  private void init(byte[] policy) throws IOException {
    JsonNode p = JSON.readTree(policy);
    header = p.get("header").asInt();
    byId = new HashMap<>();
    JsonNode w = p.path("writers");
    if (!w.isMissingNode() && !w.isNull()) {
      writers = new HashMap<>();
      for (Map.Entry<String, JsonNode> e : w.properties()) {
        JsonNode v = e.getValue();
        writers.put(Integer.valueOf(e.getKey()), new Schema.Parser().parse(
            v.isTextual() ? v.asText() : v.toString()));
      }
    }
    JsonNode x = p.path("expected");
    if (!x.isMissingNode() && !x.isNull()) {
      expected = new TreeSet<>();
      x.forEach(n -> expected.add(n.asInt()));
    }
    JsonNode r = p.path("registry");
    registry = r.isMissingNode() || r.isNull() ? null : r.asText();
    reader = new Schema.Parser().parse(p.get("reader").asText());
    if (header == 0) {
      last = new GenericDatumReader<>(reader);
    }
  }

  /** The datum reader for a framed id, after the id policy (class doc). */
  private GenericDatumReader<GenericRecord> readerFor(int id) {
    GenericDatumReader<GenericRecord> known = byId.get(id);
    if (known != null) {
      return known;
    }
    if (expected != null && !expected.contains(id)) {
      throw new IllegalArgumentException(
          "unexpected Avro schema id " + id + "; expected one of " + expected
          + " (pass schema_registry_url to resolve by id)");
    }
    Schema writer;
    if (writers != null && writers.containsKey(id)) {
      writer = writers.get(id);
    } else if (registry != null) {
      writer = fetch(registry, id);
    } else if (writers != null) {
      throw new IllegalArgumentException(
          "unknown Avro schema id " + id + "; known ids "
          + new TreeSet<>(writers.keySet())
          + " and no schema_registry_url to fetch more");
    } else if (expected == null && !byId.isEmpty()) {
      Set<Integer> seen = new TreeSet<>(byId.keySet());
      seen.add(id);
      throw new IllegalArgumentException(
          "mixed Avro schema ids in topic (" + seen + ") but no"
          + " schema_registry_url to resolve writer schemas; refusing to"
          + " mis-decode");
    } else {
      writer = reader;
    }
    GenericDatumReader<GenericRecord> datum =
        new GenericDatumReader<>(writer, reader);
    byId.put(id, datum);
    return datum;
  }

  private static Schema fetch(String registry, int id) {
    return FETCHED.computeIfAbsent(registry + "/schemas/ids/" + id, url -> {
      try {
        HttpURLConnection c =
            (HttpURLConnection) URI.create(url).toURL().openConnection();
        c.setConnectTimeout(REGISTRY_TIMEOUT_MS);
        c.setReadTimeout(REGISTRY_TIMEOUT_MS);
        try {
          int status = c.getResponseCode();
          if (status != 200) {
            throw new IllegalArgumentException(
                "unknown Avro schema id " + id + ": " + url + " answered HTTP "
                + status);
          }
          try (InputStream in = c.getInputStream()) {
            return new Schema.Parser().parse(
                JSON.readTree(in).get("schema").asText());
          }
        } finally {
          c.disconnect();
        }
      } catch (IOException ex) {
        throw new UncheckedIOException(
            "schema registry lookup " + url + " failed", ex);
      }
    });
  }

  /** Avro generic value -> Catalyst-external value (see class doc). */
  private static Object convert(Object v, Schema schema) {
    if (v == null) {
      return null;
    }
    switch (schema.getType()) {
      case UNION: {
        // only [null, T] unions (avro_to_struct enforces the same)
        for (Schema branch : schema.getTypes()) {
          if (branch.getType() != Schema.Type.NULL) {
            return convert(v, branch);
          }
        }
        return null;
      }
      case RECORD: {
        GenericRecord rec = (GenericRecord) v;
        List<Schema.Field> fields = schema.getFields();
        Object[] vals = new Object[fields.size()];
        for (int i = 0; i < fields.size(); i++) {
          vals[i] = convert(rec.get(i), fields.get(i).schema());
        }
        return RowFactory.create(vals);
      }
      case ARRAY: {
        List<?> in = (List<?>) v;
        List<Object> out = new ArrayList<>(in.size());
        for (Object item : in) {
          out.add(convert(item, schema.getElementType()));
        }
        return out;
      }
      case MAP: {
        Map<?, ?> in = (Map<?, ?>) v;
        Map<String, Object> out = new HashMap<>(in.size() * 2);
        for (Map.Entry<?, ?> e : in.entrySet()) {
          out.put(e.getKey().toString(),
                  convert(e.getValue(), schema.getValueType()));
        }
        return out;
      }
      case ENUM:
      case STRING:
        return v.toString();
      case FIXED: {
        byte[] bytes = ((GenericFixed) v).bytes();
        return decimalOrBytes(bytes, schema);
      }
      case BYTES: {
        ByteBuffer buf = (ByteBuffer) v;
        byte[] bytes = new byte[buf.remaining()];
        buf.duplicate().get(bytes);
        return decimalOrBytes(bytes, schema);
      }
      case INT: {
        LogicalType lt = schema.getLogicalType();
        if (lt instanceof LogicalTypes.Date) {
          return LocalDate.ofEpochDay(((Number) v).intValue());
        }
        return ((Number) v).intValue();
      }
      case LONG: {
        LogicalType lt = schema.getLogicalType();
        long raw = ((Number) v).longValue();
        if (lt instanceof LogicalTypes.TimestampMillis
            || lt instanceof LogicalTypes.LocalTimestampMillis) {
          return Instant.ofEpochMilli(raw);
        }
        if (lt instanceof LogicalTypes.TimestampMicros
            || lt instanceof LogicalTypes.LocalTimestampMicros) {
          return Instant.ofEpochSecond(
              Math.floorDiv(raw, 1_000_000L),
              Math.floorMod(raw, 1_000_000L) * 1_000L);
        }
        return raw;
      }
      case FLOAT:
        return ((Number) v).floatValue();
      case DOUBLE:
        return ((Number) v).doubleValue();
      case BOOLEAN:
        return v;
      default:
        throw new IllegalArgumentException(
            "unsupported avro type: " + schema.getType());
    }
  }

  private static Object decimalOrBytes(byte[] bytes, Schema schema) {
    LogicalType lt = schema.getLogicalType();
    if (lt instanceof LogicalTypes.Decimal) {
      return new BigDecimal(new BigInteger(bytes),
                            ((LogicalTypes.Decimal) lt).getScale());
    }
    return bytes;
  }
}
