package pyconnect.vec;

import java.nio.ByteBuffer;
import java.nio.charset.StandardCharsets;
import java.security.MessageDigest;
import java.security.NoSuchAlgorithmException;

import org.apache.spark.sql.api.java.UDF5;

import scala.collection.Seq;

/**
 * {@code (embedding, dim, n_tables, n_bits, multiprobe) -> LSH keys}, the {@code array<bigint>} of
 * {@code similarity.lsh_tables}: {@code table << 32 | bucket} per table, then with multiprobe every
 * bucket at Hamming distance 1, table by table and bit by bit.
 *
 * <p>Plane {@code p} is {@code similarity._hyperplanes}' row: weight {@code d} is the first 48
 * bits of {@code md5("plane_<p>_<d>")} mod 1000001, over 1e6, minus 0.5. Bit {@code j} of table
 * {@code t} is set when the left-to-right dot with plane {@code t * n_bits + j}, rounded to 9 dp
 * half up, is above zero; the rounding keeps a last-ulp difference in the sum from flipping a bit
 * between engines. Each task instance builds the planes once. A NULL embedding gives NULL.
 */
public final class SignKeys implements UDF5<Seq<Number>, Integer, Integer, Integer, Boolean, long[]> {
  private static final long serialVersionUID = 1L;

  private transient double[][] planes;

  @Override
  public long[] call(Seq<Number> embedding, Integer dim, Integer nTables, Integer nBits, Boolean multiprobe)
      throws NoSuchAlgorithmException {
    if (embedding == null) {
      return null;
    }
    if (embedding.length() != dim) {
      throw new IllegalArgumentException("embedding of length " + embedding.length() + ", planes of " + dim);
    }
    if (planes == null || planes.length != nTables * nBits || planes[0].length != dim) {
      planes = planes(nTables * nBits, dim);
    }
    double[] v = new double[dim];
    for (int d = 0; d < dim; d++) {
      v[d] = embedding.apply(d).doubleValue();
    }
    long[] keys = new long[multiprobe ? nTables * (nBits + 1) : nTables];
    for (int t = 0; t < nTables; t++) {
      long bucket = 0;
      for (int j = 0; j < nBits; j++) {
        double[] w = planes[t * nBits + j];
        double dot = 0.0;
        for (int d = 0; d < dim; d++) {
          dot += v[d] * w[d];
        }
        if (dot > 0 && Math.floor(dot * 1e9 + 0.5) > 0) {
          bucket |= 1L << j;
        }
      }
      keys[t] = (long) t << 32 | bucket;
      if (multiprobe) {
        for (int j = 0; j < nBits; j++) {
          keys[nTables + t * nBits + j] = (long) t << 32 | (bucket ^ 1L << j);
        }
      }
    }
    return keys;
  }

  private static double[][] planes(int n, int dim) throws NoSuchAlgorithmException {
    MessageDigest md5 = MessageDigest.getInstance("MD5");
    double[][] w = new double[n][dim];
    for (int p = 0; p < n; p++) {
      for (int d = 0; d < dim; d++) {
        byte[] digest = md5.digest(("plane_" + p + "_" + d).getBytes(StandardCharsets.UTF_8));
        long bits48 = ByteBuffer.wrap(digest).getLong() >>> 16;
        w[p][d] = (bits48 % 1000001) / 1e6 - 0.5;
      }
    }
    return w;
  }
}
