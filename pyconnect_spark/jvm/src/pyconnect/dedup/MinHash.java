package pyconnect.dedup;

import java.math.BigInteger;
import java.nio.ByteBuffer;
import java.nio.charset.StandardCharsets;
import java.security.MessageDigest;
import java.security.NoSuchAlgorithmException;
import java.util.Arrays;

import org.apache.spark.sql.api.java.UDF3;

import scala.collection.Seq;

/**
 * {@code (tokens, n_hashes, param_offset) -> MinHash signature}, the {@code array<bigint>} of
 * {@code dedup.minhash_signatures}.
 *
 * <p>The shingles are the word 3-grams of the token array, joined by one space; an array of fewer
 * than three tokens (none included) is one shingle. A shingle hashes to the first 60 bits of its
 * UTF-8 md5 mod 2^31-1, and entry {@code i} is the minimum of {@code (a*h + b) mod 2^31-1} over
 * the shingles, with {@code (a, b) = dedup._hash_params(i + param_offset)}. A repeated shingle
 * cannot change a minimum, so no distinct step runs. All of it is integer math, so the signature
 * is bit-identical to the SQL and DuckDB replays. Spark deserializes one instance per task, so the
 * per-instance state needs no locking.
 */
public final class MinHash implements UDF3<Seq<String>, Integer, Integer, long[]> {
  private static final long serialVersionUID = 1L;
  private static final long MERSENNE = (1L << 31) - 1;

  private transient MessageDigest md5;
  private transient int offset = -1;
  private transient long[] a;
  private transient long[] b;

  @Override
  public long[] call(Seq<String> tokens, Integer nHashes, Integer paramOffset) throws NoSuchAlgorithmException {
    if (a == null || a.length != nHashes || offset != paramOffset) {
      params(nHashes, paramOffset);
    }
    int n = tokens == null ? 0 : tokens.length();
    long[] sig = new long[nHashes];
    Arrays.fill(sig, MERSENNE);
    StringBuilder shingle = new StringBuilder();
    for (int i = 0; i < Math.max(n - 2, 1); i++) {
      shingle.setLength(0);
      for (int j = i; j < Math.min(i + 3, n); j++) {
        if (j > i) {
          shingle.append(' ');
        }
        shingle.append(tokens.apply(j));
      }
      byte[] digest = md5.digest(shingle.toString().getBytes(StandardCharsets.UTF_8));
      long h = (ByteBuffer.wrap(digest).getLong() >>> 4) % MERSENNE;
      for (int k = 0; k < sig.length; k++) {
        sig[k] = Math.min(sig[k], (h * a[k] + b[k]) % MERSENNE);
      }
    }
    return sig;
  }

  /** The affine pairs of {@code dedup._hash_params(i + paramOffset)}, i < nHashes. */
  private void params(int nHashes, int paramOffset) throws NoSuchAlgorithmException {
    md5 = MessageDigest.getInstance("MD5");
    offset = paramOffset;
    a = new long[nHashes];
    b = new long[nHashes];
    BigInteger p = BigInteger.valueOf(MERSENNE);
    for (int i = 0; i < nHashes; i++) {
      BigInteger k = BigInteger.valueOf(i + paramOffset + 1L);
      a[i] = new BigInteger("6364136223846793005").multiply(k).add(new BigInteger("1442695040888963407"))
          .mod(p.subtract(BigInteger.ONE)).longValue() + 1;
      b[i] = new BigInteger("2862933555777941757").multiply(k).add(BigInteger.valueOf(3037000493L))
          .mod(p).longValue();
    }
  }
}
