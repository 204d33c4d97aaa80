package addressparser;

import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Seq;

/**
 * |A intersect B| for two SORTED arrays of distinct int64 shingle hashes —
 * a single merge walk, O(n+m), sequential memory access, zero per-row
 * allocations on the fast path.
 *
 * Replaces size(array_intersect(a, b)) in the pairwise scorer: Catalyst's
 * array_intersect builds a hash set per row and materializes the result
 * array, which is allocation/memory-bandwidth bound — the measured cause of
 * sub-linear N-to-4N scaling in the scoring stage. The count (and therefore
 * every Jaccard/containment value derived from it) is identical because the
 * inputs are distinct-element sets; callers must pass arrays sorted
 * ascending (blocking.conv_profiles sorts sh_hash at build time).
 */
public class IntersectCount implements UDF2<Object, Object, Integer> {

    @Override
    public Integer call(Object a, Object b) {
        if (a == null || b == null) {
            return null;
        }
        long[] x = toArr(a);
        long[] y = toArr(b);
        int i = 0;
        int j = 0;
        int c = 0;
        while (i < x.length && j < y.length) {
            if (x[i] < y[j]) {
                i++;
            } else if (x[i] > y[j]) {
                j++;
            } else {
                c++;
                i++;
                j++;
            }
        }
        return c;
    }

    @SuppressWarnings("unchecked")
    static long[] toArr(Object o) {
        // unwrap the primitive backing array when Spark hands us one (the
        // common case for array<bigint> with non-null elements)
        if (o instanceof scala.collection.immutable.ArraySeq.ofLong) {
            return ((scala.collection.immutable.ArraySeq.ofLong) o).unsafeArray();
        }
        if (o instanceof scala.collection.mutable.ArraySeq.ofLong) {
            return ((scala.collection.mutable.ArraySeq.ofLong) o).array();
        }
        if (o instanceof long[]) {
            return (long[]) o;
        }
        // boxed elements: null elements are skipped
        Seq<Long> s = (Seq<Long>) o;
        long[] r = new long[s.size()];
        scala.collection.Iterator<Long> it = s.iterator();
        int k = 0;
        while (it.hasNext()) {
            Long v = it.next();
            if (v != null) {
                r[k++] = v;
            }
        }
        return k == r.length ? r : java.util.Arrays.copyOf(r, k);
    }
}
