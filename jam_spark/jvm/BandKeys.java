package jam_spark.jvm;

import org.apache.spark.sql.Column;
import org.apache.spark.sql.api.java.UDF1;
import org.apache.spark.sql.functions;
import org.apache.spark.sql.types.DataTypes;
import scala.collection.Iterator;
import scala.collection.Seq;

/**
 * LSH band keys of one sketch, bit-equal to {@code jam_spark.bands.band_arrays}
 * ({@code signature_batch} followed by {@code band_hash_batch}).
 *
 * <p>The math is unsigned 64-bit arithmetic modulo 2^64. Java {@code long}
 * multiplies and adds wrap, so they compute exactly those bits; only the
 * comparisons and the non-power-of-two bucket need the unsigned forms.
 *
 * <pre>
 *   v         = fmix64(h ^ seed0)                    for each sketch hash h
 *   sig[p]    = unsigned min of v with bucket(v) == p (one-permutation hashing)
 *   sig[j]    = fmix64(sig[next filled after j] + j) for an empty bucket j
 *   band[b]   = fmix64(poly(sig[b*rows .. b*rows+rows)) ^ bandSeeds[b])
 * </pre>
 *
 * The index in the returned array is the band id. Empty and null sketches
 * give an empty array (no postings).
 */
public final class BandKeys implements UDF1<Seq<Object>, long[]> {
  private static final long EMPTY = -1L; // u64::MAX, the empty-bucket sentinel
  private static final long POLY_BASE = 0x9E3779B185EBCA87L; // SHINGLE_POLY_BASE

  private final long seed0;
  private final long[] bandSeeds;
  private final int numPerm;
  private final int rows;

  public BandKeys(long seed0, long[] bandSeeds, int numPerm, int rows) {
    if (bandSeeds.length * rows != numPerm) {
      throw new IllegalArgumentException("bands * rows != num_perm");
    }
    this.seed0 = seed0;
    this.bandSeeds = bandSeeds.clone();
    this.numPerm = numPerm;
    this.rows = rows;
  }

  static long fmix64(long k) {
    k ^= k >>> 33;
    k *= 0xFF51AFD7ED558CCDL;
    k ^= k >>> 33;
    k *= 0xC4CEB9FE1A85EC53L;
    k ^= k >>> 33;
    return k;
  }

  /** This UDF applied to an {@code array<bigint>} sketch column. */
  public Column column(Column sketch) {
    return functions
        .udf(this, DataTypes.createArrayType(DataTypes.LongType, false))
        .withName("band_keys")
        .apply(sketch);
  }

  @Override
  public long[] call(Seq<Object> sketch) {
    if (sketch == null || sketch.isEmpty()) {
      return new long[0];
    }
    final int p = numPerm;
    final boolean pow2 = (p & (p - 1)) == 0;
    final long[] sig = new long[p];
    java.util.Arrays.fill(sig, EMPTY);
    for (Iterator<Object> it = sketch.iterator(); it.hasNext(); ) {
      long v = fmix64((Long) it.next() ^ seed0);
      int b = pow2 ? (int) (v & (p - 1)) : (int) Long.remainderUnsigned(v, p);
      if (Long.compareUnsigned(v, sig[b]) < 0) {
        sig[b] = v;
      }
    }
    densify(sig);
    final long[] out = new long[bandSeeds.length];
    for (int b = 0; b < out.length; b++) {
      long acc = 0L;
      for (int j = 0; j < rows; j++) {
        acc = acc * POLY_BASE + sig[b * rows + j];
      }
      out[b] = fmix64(acc ^ bandSeeds[b]);
    }
    return out;
  }

  /**
   * Rotation densification: an empty bucket j takes fmix64(v + j), where v
   * is the value of the first filled bucket after j, cyclically. A
   * signature with no filled bucket stays all-sentinel.
   */
  private static void densify(long[] sig) {
    int first = 0;
    while (first < sig.length && sig[first] == EMPTY) {
      first++;
    }
    if (first == sig.length) {
      return;
    }
    // right to left, `next` is the nearest filled value at or after j;
    // past the last filled bucket it wraps to the first. Each position is
    // read before it is written, so borrowed values are never borrowed.
    long next = sig[first];
    for (int j = sig.length - 1; j >= 0; j--) {
      if (sig[j] != EMPTY) {
        next = sig[j];
      } else {
        sig[j] = fmix64(next + j);
      }
    }
  }
}
