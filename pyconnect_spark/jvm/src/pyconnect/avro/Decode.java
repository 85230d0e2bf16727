package pyconnect.avro;

import java.io.EOFException;
import java.io.IOException;
import java.nio.ByteBuffer;
import java.nio.charset.StandardCharsets;
import java.util.ArrayList;
import java.util.HashMap;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import org.apache.avro.io.BinaryDecoder;
import org.apache.avro.io.DecoderFactory;
import org.apache.spark.sql.RowFactory;
import org.apache.spark.sql.api.java.UDF2;

/**
 * {@code (Avro binary, schema text) -> value}, the value {@code avro_codec.decode} reads.
 *
 * <p>A record decodes to a {@code Row}, an array to a {@code List}, a map to a {@code Map} in
 * payload order, {@code bytes} to {@code byte[]}. A SQL NULL payload gives NULL; a truncated or
 * malformed one (bad union branch, length or UTF-8) throws, failing the task. Spark deserializes
 * one instance per task, so the per-instance state needs no locking.
 */
public final class Decode implements UDF2<byte[], String, Object> {
  private static final long serialVersionUID = 1L;

  private transient Map<String, Node> nodes;
  private transient BinaryDecoder in;
  private transient int size;

  @Override
  public Object call(byte[] payload, String schema) throws IOException {
    if (payload == null) {
      return null;
    }
    if (nodes == null) {
      nodes = new HashMap<>();
    }
    in = DecoderFactory.get().binaryDecoder(payload, in);
    size = payload.length;
    return read(nodes.computeIfAbsent(schema, Node::parse));
  }

  private Object read(Node node) throws IOException {
    switch (node.kind) {
      case 'u':
        int branch = in.readIndex();
        if (branch != 0 && branch != 1) {
          throw new IOException("union branch " + branch + " out of range");
        }
        return branch == node.nullIndex ? null : read(node.child);
      case 'n': return null;
      case 'b': return in.readBoolean();
      case 'i': return in.readInt();
      case 'l': return in.readLong();
      case 'f': return in.readFloat();
      case 'd': return in.readDouble();
      case 's': return string();
      case 'y': return bytes();
      case 'r':
        Object[] values = new Object[node.fields.length];
        for (int i = 0; i < values.length; i++) {
          values[i] = read(node.fields[i]);
        }
        return RowFactory.create(values);
      case 'a':
        List<Object> items = new ArrayList<>();
        for (long n = in.readArrayStart(); n != 0; n = in.arrayNext()) {
          for (long i = 0; i < n; i++) {
            items.add(read(node.child));
          }
        }
        return items;
      case 'm':
        Map<String, Object> entries = new LinkedHashMap<>();
        for (long n = in.readMapStart(); n != 0; n = in.mapNext()) {
          for (long i = 0; i < n; i++) {
            String key = string();
            entries.put(key, read(node.child));
          }
        }
        return entries;
      default:
        throw new IllegalStateException("unknown schema kind " + node.kind);
    }
  }

  /** A length-prefixed byte run; a length beyond the whole payload is malformed. */
  private byte[] bytes() throws IOException {
    long length = in.readLong();
    if (length < 0 || length > size) {
      throw new EOFException("byte length " + length + " in a payload of " + size);
    }
    byte[] data = new byte[(int) length];
    in.readFixed(data);
    return data;
  }

  private String string() throws IOException {
    byte[] data = bytes();
    String text = new String(data, StandardCharsets.UTF_8);
    if (text.indexOf('\uFFFD') >= 0) {
      // Rare: either a real U+FFFD or malformed UTF-8, which the strict decoder rejects.
      StandardCharsets.UTF_8.newDecoder().decode(ByteBuffer.wrap(data));
    }
    return text;
  }
}
