package pyconnect.avro;

import org.apache.spark.sql.types.StructType;

/**
 * One node of a schema in the prefix text that {@code avro_codec._compile} writes.
 *
 * <pre>
 *   n b i l f d s y     null boolean int long float double string bytes
 *   u&lt;k&gt;T              a union of "null" (branch k, 0 or 1) and T
 *   aT mT               an array of T, a map of T
 *   r&lt;n&gt;;F...          a record of n fields F = &lt;length&gt;:&lt;name&gt;T; length counts code points
 * </pre>
 *
 * Records nest by position, not by name, so two records may share a name.
 */
final class Node {
  final char kind;
  final int nullIndex;
  final Node child;
  final String[] names;
  final Node[] fields;

  /** The row schema {@link #positions} was last resolved against, and the result. */
  private StructType rowSchema;

  private int[] positions;

  private Node(char kind, int nullIndex, Node child, String[] names, Node[] fields) {
    this.kind = kind;
    this.nullIndex = nullIndex;
    this.child = child;
    this.names = names;
    this.fields = fields;
  }

  static Node parse(String text) {
    int[] at = {0};
    Node node = parse(text, at);
    if (at[0] != text.length()) {
      throw new IllegalArgumentException("trailing schema text at " + at[0] + ": " + text);
    }
    return node;
  }

  private static Node parse(String text, int[] at) {
    char kind = text.charAt(at[0]++);
    switch (kind) {
      case 'n': case 'b': case 'i': case 'l': case 'f': case 'd': case 's': case 'y':
        return new Node(kind, -1, null, null, null);
      case 'u':
        int nullIndex = text.charAt(at[0]++) - '0';
        return new Node(kind, nullIndex, parse(text, at), null, null);
      case 'a': case 'm':
        return new Node(kind, -1, parse(text, at), null, null);
      case 'r':
        int n = number(text, at, ';');
        String[] names = new String[n];
        Node[] fields = new Node[n];
        for (int i = 0; i < n; i++) {
          int length = number(text, at, ':');
          int start = at[0];
          at[0] = text.offsetByCodePoints(start, length);
          names[i] = text.substring(start, at[0]);
          fields[i] = parse(text, at);
        }
        return new Node(kind, -1, null, names, fields);
      default:
        throw new IllegalArgumentException("unknown schema kind '" + kind + "' in " + text);
    }
  }

  private static int number(String text, int[] at, char end) {
    int stop = text.indexOf(end, at[0]);
    int value = Integer.parseInt(text.substring(at[0], stop));
    at[0] = stop + 1;
    return value;
  }

  /** Where each field of this record sits in rows of {@code schema}, matched by name. */
  int[] positions(StructType schema) {
    if (schema != rowSchema) {
      int[] found = new int[names.length];
      for (int i = 0; i < found.length; i++) {
        found[i] = schema.fieldIndex(names[i]);
      }
      positions = found;
      rowSchema = schema;
    }
    return positions;
  }
}
