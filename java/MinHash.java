package addressparser;

import org.apache.spark.sql.api.java.UDF3;
import scala.collection.Seq;

/**
 * Universal-hash MinHash of a set of shingle hashes, one call per row:
 * minhash_java(h array&lt;bigint&gt;, a array&lt;bigint&gt;, b array&lt;bigint&gt;)
 * -&gt; array&lt;bigint&gt; of a.length elements, element i = the minimum of
 * (a[i] * x + b[i]) mod (2^61 - 1) over the non-null x in h (Broder, "On
 * the resemblance and containment of documents", 1997).
 *
 * h is a set of 60-bit md5 prefixes, one per distinct shingle
 * (blocking.shingle_hashes), so a shingle is hashed once and each minhash
 * costs one multiply and one reduction per shingle. The product a * x is
 * exact: Math.multiplyHigh gives its high 64 bits, and 2^61 = 1 (mod p)
 * folds the 128 bits below p. The DuckDB oracle computes the same value in
 * HUGEINT. Callers keep 0 &lt;= x &lt; 2^60 and 0 &lt;= a, b &lt; 2^61 - 1.
 *
 * Null contract: a null or empty h returns null (no sketch); an h whose
 * elements are all null returns a.length nulls (the oracle's min over null
 * rows).
 */
public class MinHash implements UDF3<Object, Object, Object, Long[]> {

    private static final long P = (1L << 61) - 1;

    @Override
    public Long[] call(Object h, Object a, Object b) {
        if (h == null || ((Seq<?>) h).isEmpty()) {
            return null;
        }
        long[] xs = IntersectCount.toArr(h);
        long[] as = IntersectCount.toArr(a);
        long[] bs = IntersectCount.toArr(b);
        Long[] out = new Long[as.length];
        if (xs.length == 0) {
            return out;
        }
        for (int i = 0; i < as.length; i++) {
            long min = Long.MAX_VALUE;
            for (long x : xs) {
                min = Math.min(min, mulAddMod(as[i], x, bs[i]));
            }
            out[i] = min;
        }
        return out;
    }

    /** (a * x + b) mod p for 0 &lt;= x &lt; 2^60 and 0 &lt;= a, b &lt; p. */
    static long mulAddMod(long a, long x, long b) {
        long lo = a * x;
        long hi = Math.multiplyHigh(a, x);
        // a * x = (hi * 2^3 + lo >>> 61) * 2^61 + (lo & p), and 2^61 = 1 mod p;
        // a * x < 2^121, so the sum stays below 2^63
        long r = (lo & P) + ((hi << 3) | (lo >>> 61)) + b;
        r = (r & P) + (r >>> 61);
        return r >= P ? r - P : r;
    }
}
