package addressparser;

/**
 * Normalized Levenshtein similarity: 1 - dist / max(|a|, |b|), code points —
 * the lev_sim half of the fused TextSim scoring kernel.
 *
 * Equal to the Catalyst expression
 *   when(mx == 0, 1.0).otherwise(1.0 - levenshtein(a, b) / mx)
 * (Spark's levenshtein is code-point based; the division is double/double),
 * but ~3-5x faster: a two-row DP over int[] code points with no UTF-8
 * re-decoding per cell. Inputs are pre-capped (TEXT_CAP) by the caller, so
 * the DP is bounded.
 */
final class LevSim {

    static double levSim(int[] a, int[] b) {
        int n1 = a.length;
        int n2 = b.length;
        int mx = Math.max(n1, n2);
        if (mx == 0) {
            return 1.0;
        }
        if (n1 == 0 || n2 == 0) {
            return 1.0 - Math.max(n1, n2) / (double) mx;
        }
        // two-row DP; iterate over the shorter string in the inner loop
        if (n2 > n1) {
            int[] tmp = a;
            a = b;
            b = tmp;
            int t = n1;
            n1 = n2;
            n2 = t;
        }
        int[] prev = new int[n2 + 1];
        int[] cur = new int[n2 + 1];
        for (int j = 0; j <= n2; j++) {
            prev[j] = j;
        }
        for (int i = 1; i <= n1; i++) {
            cur[0] = i;
            int ai = a[i - 1];
            for (int j = 1; j <= n2; j++) {
                int cost = (ai == b[j - 1]) ? 0 : 1;
                int v = prev[j - 1] + cost;
                int del = prev[j] + 1;
                if (del < v) {
                    v = del;
                }
                int ins = cur[j - 1] + 1;
                if (ins < v) {
                    v = ins;
                }
                cur[j] = v;
            }
            int[] t = prev;
            prev = cur;
            cur = t;
        }
        return 1.0 - prev[n2] / (double) mx;
    }
}
