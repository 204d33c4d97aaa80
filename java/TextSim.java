package addressparser;

import org.apache.spark.sql.api.java.UDF2;

/**
 * Fused text-similarity kernel: one call computes
 * [ levenshtein_sim, jaro_winkler ] over a pair of (pre-capped) strings.
 *
 * Fusing matters for throughput scaling, not semantics: each UDF call pays a
 * UTF8String-to-String conversion and codepoint decode per side — at ~10^4
 * pairs/sec/core that allocation rate makes GC a shared-resource bottleneck
 * that erodes N-to-4N core scaling. One call decodes each string once for
 * both measures. Null in -> null out; scoring.py maps that to lev_sim null
 * and jw 0.0.
 */
public class TextSim implements UDF2<String, String, double[]> {

    @Override
    public double[] call(String s1, String s2) {
        if (s1 == null || s2 == null) {
            return null;
        }
        int[] a = s1.codePoints().toArray();
        int[] b = s2.codePoints().toArray();
        boolean eq = s1.equals(s2);
        return new double[] {LevSim.levSim(a, b), JaroWinkler.jaroWinkler(a, b, eq)};
    }
}
