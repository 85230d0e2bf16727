package pyconnect.avro;

import java.io.ByteArrayOutputStream;
import java.io.IOException;
import java.util.HashMap;
import java.util.Map;

import org.apache.avro.io.BinaryEncoder;
import org.apache.avro.io.EncoderFactory;
import org.apache.spark.sql.Row;
import org.apache.spark.sql.api.java.UDF2;

import scala.collection.Iterator;
import scala.collection.Seq;

/**
 * {@code (value, schema text) -> Avro binary}, the bytes {@code avro_codec.encode} writes.
 *
 * <p>A SQL NULL value gives NULL. Record fields are matched to the row's by name. A map arrives
 * as the array of its (key, value) entries, in the map's order. Spark deserializes one instance
 * per task, so the per-instance state needs no locking.
 */
public final class Encode implements UDF2<Object, String, byte[]> {
  private static final long serialVersionUID = 1L;

  private transient Map<String, Node> nodes;
  private transient ByteArrayOutputStream bytes;
  private transient BinaryEncoder out;

  @Override
  public byte[] call(Object value, String schema) throws IOException {
    if (value == null) {
      return null;
    }
    if (nodes == null) {
      nodes = new HashMap<>();
      bytes = new ByteArrayOutputStream();
    }
    bytes.reset();
    out = EncoderFactory.get().directBinaryEncoder(bytes, out);
    write(nodes.computeIfAbsent(schema, Node::parse), value);
    out.flush();
    return bytes.toByteArray();
  }

  private void write(Node node, Object value) throws IOException {
    if (value == null && node.kind != 'u' && node.kind != 'n') {
      throw new NullPointerException("SQL NULL where the Avro schema has no null branch");
    }
    switch (node.kind) {
      case 'u':
        out.writeIndex(value == null ? node.nullIndex : 1 - node.nullIndex);
        if (value != null) {
          write(node.child, value);
        }
        break;
      case 'n': break;
      case 'b': out.writeBoolean((Boolean) value); break;
      case 'i': case 'l': out.writeLong(((Number) value).longValue()); break;
      case 'f': out.writeFloat(((Number) value).floatValue()); break;
      case 'd': out.writeDouble(((Number) value).doubleValue()); break;
      case 's': out.writeString((String) value); break;
      case 'y': out.writeBytes((byte[]) value); break;
      case 'r':
        Row row = (Row) value;
        int[] at = node.positions(row.schema());
        for (int i = 0; i < at.length; i++) {
          write(node.fields[i], row.get(at[i]));
        }
        break;
      case 'a': case 'm':
        // An array's items, or a map's entries as (key, value) rows.
        Seq<?> items = (Seq<?>) value;
        out.setItemCount(items.length());
        for (Iterator<?> it = items.iterator(); it.hasNext(); ) {
          out.startItem();
          if (node.kind == 'a') {
            write(node.child, it.next());
          } else {
            Row entry = (Row) it.next();
            out.writeString((String) entry.get(0));
            write(node.child, entry.get(1));
          }
        }
        out.writeArrayEnd();  // a map ends with the same 0 count
        break;
      default:
        throw new IllegalStateException("unknown schema kind " + node.kind);
    }
  }
}
