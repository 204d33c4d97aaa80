package addressparser;

/**
 * Jaro-Winkler similarity over code points, the jw half of the fused TextSim
 * scoring kernel.
 *
 * Exactly mirrors the Python reference implementation in
 * addressparser_spark/functions/similarity.py (classic Winkler formulation:
 * prefix &le; 4, p = 0.1, boost only when jaro &gt; 0.7), which in turn
 * matches DuckDB's jaro_winkler_similarity on ASCII input — so the driver
 * oracle verifies the scored output. All arithmetic is IEEE-754 double in
 * the same operation order as the Python code, and strings are compared by
 * Unicode code point (Python str semantics), so results agree bit-for-bit.
 *
 * Mirrors the reference comparator slot (AddressComparer.cs:107-268): the
 * one genuinely scalar-per-pair computation in the pipeline, pushed to the
 * JVM so the scoring stage needs no Python workers at all.
 */
final class JaroWinkler {

    static double jaroWinkler(int[] a, int[] b, boolean equal) {
        double jaro = jaro(a, b, equal);
        if (jaro > 0.7) {
            int n = Math.min(Math.min(a.length, b.length), 4);
            int prefix = 0;
            for (int i = 0; i < n; i++) {
                if (a[i] != b[i]) {
                    break;
                }
                prefix++;
            }
            jaro += prefix * 0.1 * (1.0 - jaro);
        }
        return jaro;
    }

    private static double jaro(int[] a, int[] b, boolean equal) {
        if (equal) {
            return 1.0;
        }
        int n1 = a.length;
        int n2 = b.length;
        if (n1 == 0 || n2 == 0) {
            return 0.0;
        }
        int window = Math.max(n1, n2) / 2 - 1;
        if (window < 0) {
            window = 0;
        }
        boolean[] f1 = new boolean[n1];
        boolean[] f2 = new boolean[n2];
        int m = 0;
        for (int i = 0; i < n1; i++) {
            int lo = Math.max(0, i - window);
            int hi = Math.min(n2 - 1, i + window);
            for (int j = lo; j <= hi; j++) {
                if (!f2[j] && b[j] == a[i]) {
                    f1[i] = true;
                    f2[j] = true;
                    m++;
                    break;
                }
            }
        }
        if (m == 0) {
            return 0.0;
        }
        int t = 0;
        int j = 0;
        for (int i = 0; i < n1; i++) {
            if (f1[i]) {
                while (!f2[j]) {
                    j++;
                }
                if (a[i] != b[j]) {
                    t++;
                }
                j++;
            }
        }
        t /= 2;
        return ((double) m / n1 + (double) m / n2 + (double) (m - t) / m) / 3.0;
    }
}
