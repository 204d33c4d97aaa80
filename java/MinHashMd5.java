package addressparser;

import java.nio.charset.StandardCharsets;
import java.security.MessageDigest;
import java.security.NoSuchAlgorithmException;
import org.apache.spark.sql.api.java.UDF2;
import scala.collection.Iterator;
import scala.collection.Seq;

/**
 * MinHash sketch of a shingle set, one call per row:
 * minhash_md5(shingles array&lt;string&gt;, n int) -&gt; array&lt;string&gt; of n
 * elements, element i = lowercase md5 hex of the minimum md5 digest of the
 * UTF-8 bytes of "%02d|" + s over the non-null shingles s.
 *
 * It is the value the blocking and dedup sketches define as
 * min(md5('NN|' || s)) over the exploded shingles (the DuckDB oracle's
 * form), without the explode and the per-key sort-aggregate. Digests are
 * compared as unsigned bytes, which orders them exactly as their hex
 * strings; only the n winners are hex-encoded.
 *
 * Null contract: a null or empty array returns null (the exploded form has
 * no row to aggregate); an array whose elements are all null returns n
 * nulls (the exploded form's min over null digests).
 */
public class MinHashMd5 implements UDF2<Object, Integer, String[]> {

    private static final char[] HEX = "0123456789abcdef".toCharArray();

    // the "%02d|" salts of the usual sketch sizes, encoded once
    private static final byte[][] PREFIX = new byte[100][];

    static {
        for (int i = 0; i < PREFIX.length; i++) {
            PREFIX[i] = prefix(i);
        }
    }

    private static final ThreadLocal<MessageDigest> MD5 = ThreadLocal.withInitial(() -> {
        try {
            return MessageDigest.getInstance("MD5");
        } catch (NoSuchAlgorithmException e) {
            throw new IllegalStateException(e);
        }
    });

    @Override
    @SuppressWarnings("unchecked")
    public String[] call(Object shingles, Integer n) {
        if (shingles == null || n == null) {
            return null;
        }
        Seq<String> seq = (Seq<String>) shingles;
        if (seq.isEmpty()) {
            return null;
        }
        int k = n;
        byte[][] prefix = new byte[k][];
        for (int i = 0; i < k; i++) {
            prefix[i] = i < PREFIX.length ? PREFIX[i] : prefix(i);
        }
        MessageDigest md = MD5.get();
        byte[][] min = new byte[k][];
        byte[] digest = new byte[16];
        try {
            Iterator<String> it = seq.iterator();
            while (it.hasNext()) {
                String s = it.next();
                if (s == null) {
                    continue;
                }
                byte[] b = s.getBytes(StandardCharsets.UTF_8);
                for (int i = 0; i < k; i++) {
                    md.update(prefix[i]);
                    md.update(b);
                    md.digest(digest, 0, 16);
                    if (min[i] == null) {
                        min[i] = digest.clone();
                    } else if (lessThan(digest, min[i])) {
                        System.arraycopy(digest, 0, min[i], 0, 16);
                    }
                }
            }
        } catch (java.security.DigestException e) {
            throw new IllegalStateException(e);
        }
        String[] out = new String[k];
        for (int i = 0; i < k; i++) {
            out[i] = min[i] == null ? null : hex(min[i]);
        }
        return out;
    }

    private static byte[] prefix(int i) {
        return String.format("%02d|", i).getBytes(StandardCharsets.UTF_8);
    }

    private static boolean lessThan(byte[] a, byte[] b) {
        for (int i = 0; i < a.length; i++) {
            int x = a[i] & 0xff;
            int y = b[i] & 0xff;
            if (x != y) {
                return x < y;
            }
        }
        return false;
    }

    private static String hex(byte[] d) {
        char[] c = new char[d.length * 2];
        for (int i = 0; i < d.length; i++) {
            c[2 * i] = HEX[(d[i] >> 4) & 0xf];
            c[2 * i + 1] = HEX[d[i] & 0xf];
        }
        return new String(c);
    }
}
