package fkta;

import java.io.ByteArrayOutputStream;
import java.io.IOException;
import java.math.BigDecimal;
import java.nio.ByteBuffer;
import java.sql.Date;
import java.sql.Timestamp;
import java.time.Instant;
import java.time.LocalDate;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.List;
import java.util.Map;

import com.fasterxml.jackson.databind.JsonNode;
import com.fasterxml.jackson.databind.ObjectMapper;

import org.apache.avro.LogicalType;
import org.apache.avro.LogicalTypes;
import org.apache.avro.Schema;
import org.apache.avro.generic.GenericData;
import org.apache.avro.generic.GenericDatumWriter;
import org.apache.avro.generic.GenericRecord;
import org.apache.avro.io.BinaryEncoder;
import org.apache.avro.io.EncoderFactory;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.api.java.UDF2;

/**
 * The engine's one Avro encoder: Spark struct to (optionally
 * Confluent-framed) Avro binary. The inverse of {@link ConfluentAvroDecode},
 * compiled in-repo against pyspark's bundled avro-1.12 jar
 * (sources/java_udf.py).
 *
 * Arguments: (struct row, spec). The spec is a literal UTF-8 JSON object
 * {"schema": writer schema JSON, "id": schema id or null}. A non-null id
 * prepends the Confluent wire header: magic 0x00 + int32 big-endian id
 * (reference TransactionProcessor.java:112-115). Fields are taken by
 * position from the row, so callers build the struct in the schema's
 * field order (java_udf.encode_column does).
 *
 * As in {@link ConfluentAvroDecode}, sources/java_udf.py registers one
 * function name per distinct spec, so an instance only ever sees one
 * spec. It parses the spec on its first row and then reuses one writer,
 * output buffer and encoder for every row of its task.
 */
public class ConfluentAvroEncode implements UDF2<Row, byte[], byte[]> {

  private static final ObjectMapper JSON = new ObjectMapper();

  // per-instance (so per-task) state; transient, so the copy Spark
  // serializes from the driver always arrives unparsed
  private transient Schema schema;
  private transient byte[] header;
  private transient GenericDatumWriter<GenericRecord> writer;
  private transient ByteArrayOutputStream out;
  private transient BinaryEncoder enc;

  @Override
  public byte[] call(Row row, byte[] spec) throws Exception {
    if (row == null) {
      return null;
    }
    if (schema == null) {
      init(spec);
    }
    GenericRecord rec = (GenericRecord) toAvro(row, schema);
    out.reset();
    out.write(header);
    enc = EncoderFactory.get().binaryEncoder(out, enc);
    writer.write(rec, enc);
    enc.flush();
    return out.toByteArray();
  }

  private void init(byte[] spec) throws IOException {
    JsonNode s = JSON.readTree(spec);
    Schema parsed = new Schema.Parser().parse(s.get("schema").asText());
    JsonNode id = s.get("id");
    if (id == null || id.isNull()) {
      header = new byte[0];
    } else {
      int i = id.asInt();
      header = new byte[] {
          0x00, (byte) (i >>> 24), (byte) (i >>> 16), (byte) (i >>> 8),
          (byte) i};
    }
    writer = new GenericDatumWriter<>(parsed);
    out = new ByteArrayOutputStream();
    schema = parsed;
  }

  /** Catalyst-external value -> Avro generic value. */
  private static Object toAvro(Object v, Schema schema) {
    if (schema.getType() == Schema.Type.UNION) {
      if (v == null) {
        return null;
      }
      for (Schema branch : schema.getTypes()) {
        if (branch.getType() != Schema.Type.NULL) {
          return toAvro(v, branch);
        }
      }
      return null;
    }
    if (v == null) {
      return null;
    }
    switch (schema.getType()) {
      case RECORD: {
        Row row = (Row) v;
        GenericData.Record rec = new GenericData.Record(schema);
        List<Schema.Field> fields = schema.getFields();
        for (int i = 0; i < fields.size(); i++) {
          rec.put(i, toAvro(row.get(i), fields.get(i).schema()));
        }
        return rec;
      }
      case ARRAY: {
        List<?> in = (v instanceof scala.collection.Seq)
            ? scala.collection.JavaConverters.seqAsJavaList(
                (scala.collection.Seq<?>) v)
            : (List<?>) v;
        List<Object> out = new ArrayList<>(in.size());
        for (Object item : in) {
          out.add(toAvro(item, schema.getElementType()));
        }
        return out;
      }
      case MAP: {
        Map<?, ?> in = (v instanceof scala.collection.Map)
            ? scala.collection.JavaConverters.mapAsJavaMap(
                (scala.collection.Map<?, ?>) v)
            : (Map<?, ?>) v;
        Map<String, Object> out = new HashMap<>(in.size() * 2);
        for (Map.Entry<?, ?> e : in.entrySet()) {
          out.put(e.getKey().toString(),
                  toAvro(e.getValue(), schema.getValueType()));
        }
        return out;
      }
      case ENUM:
        return new GenericData.EnumSymbol(schema, v.toString());
      case STRING:
        return v.toString();
      case FIXED:
        return new GenericData.Fixed(schema, (byte[]) v);
      case BYTES: {
        LogicalType lt = schema.getLogicalType();
        if (lt instanceof LogicalTypes.Decimal) {
          BigDecimal d = (BigDecimal) v;
          return ByteBuffer.wrap(
              d.setScale(((LogicalTypes.Decimal) lt).getScale())
               .unscaledValue().toByteArray());
        }
        return ByteBuffer.wrap((byte[]) v);
      }
      case INT: {
        if (schema.getLogicalType() instanceof LogicalTypes.Date) {
          long days = (v instanceof LocalDate)
              ? ((LocalDate) v).toEpochDay()
              : ((Date) v).toLocalDate().toEpochDay();
          return (int) days;
        }
        return ((Number) v).intValue();
      }
      case LONG: {
        LogicalType lt = schema.getLogicalType();
        if (lt instanceof LogicalTypes.TimestampMillis
            || lt instanceof LogicalTypes.LocalTimestampMillis) {
          return toInstant(v).toEpochMilli();
        }
        if (lt instanceof LogicalTypes.TimestampMicros
            || lt instanceof LogicalTypes.LocalTimestampMicros) {
          Instant t = toInstant(v);
          return Math.addExact(
              Math.multiplyExact(t.getEpochSecond(), 1_000_000L),
              t.getNano() / 1_000L);
        }
        return ((Number) v).longValue();
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

  private static Instant toInstant(Object v) {
    // Spark hands TimestampType to Java UDFs as java.sql.Timestamp by
    // default and java.time.Instant under the java8 datetime API config;
    // TimestampNTZType arrives as java.time.LocalDateTime, which the
    // engine treats as UTC wall-clock (session timezone is pinned to UTC
    // everywhere — session.py) to match the Python codec's naive-datetime
    // epoch arithmetic.
    if (v instanceof Instant) {
      return (Instant) v;
    }
    if (v instanceof java.time.LocalDateTime) {
      return ((java.time.LocalDateTime) v).toInstant(java.time.ZoneOffset.UTC);
    }
    return ((Timestamp) v).toInstant();
  }
}
