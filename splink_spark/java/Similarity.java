package splinkspark;

import java.util.Arrays;
import org.apache.spark.sql.api.java.UDF2;

/**
 * JVM-side similarity kernels for the hot scoring path.
 *
 * Native replacement for the reference's Scala UDF jar
 * (splink/internals/spark/jar_location.py:42-64): jaro_sim, jaro_winkler,
 * jaccard, damerau_levenshtein. Definitions are pinned to DuckDB's built-ins
 * (jaro_similarity, jaro_winkler_similarity, jaccard, damerau_levenshtein)
 * and mirror the Python kernels in internals/functions.py exactly; the
 * pandas UDFs remain as the fallback when this jar cannot be compiled, and
 * the DuckDB correctness oracle agrees with both.
 *
 * Each UDF2 wrapper returns null on null input, matching the pandas kernels'
 * null passthrough.
 */
public final class Similarity {

    private Similarity() {}

    /**
     * All kernels operate on Unicode CODE POINTS, not UTF-16 code units —
     * Python's len()/indexing is code-point based, and the advertised
     * bit-for-bit parity with the pandas fallback must hold for non-BMP
     * characters (emoji, rare CJK) too. A plain loop: no stream, and no
     * copy when the string has no surrogate pair.
     */
    private static int[] cps(String s) {
        int n = s.length();
        int[] out = new int[n];
        int k = 0;
        for (int i = 0; i < n; k++) {
            int cp = s.codePointAt(i);
            out[k] = cp;
            i += Character.charCount(cp);
        }
        return k == n ? out : Arrays.copyOf(out, k);
    }

    /** The distinct values of {@code a}, sorted (sorts {@code a} in place). */
    private static int[] sortedDistinct(int[] a) {
        Arrays.sort(a);
        int n = 0;
        for (int i = 0; i < a.length; i++) {
            if (n == 0 || a[n - 1] != a[i]) {
                a[n++] = a[i];
            }
        }
        return n == a.length ? a : Arrays.copyOf(a, n);
    }

    public static double jaro(String s1, String s2) {
        return s1.equals(s2) ? 1.0 : jaro(cps(s1), cps(s2));
    }

    private static double jaro(int[] a, int[] b) {
        int len1 = a.length;
        int len2 = b.length;
        if (len1 == 0 || len2 == 0) {
            return 0.0;
        }
        int matchWindow = Math.max(len1, len2) / 2 - 1;
        if (matchWindow < 0) {
            matchWindow = 0;
        }
        boolean[] flags1 = new boolean[len1];
        boolean[] flags2 = new boolean[len2];
        int matches = 0;
        for (int i = 0; i < len1; i++) {
            int ch = a[i];
            int lo = Math.max(0, i - matchWindow);
            int hi = Math.min(len2, i + matchWindow + 1);
            for (int j = lo; j < hi; j++) {
                if (!flags2[j] && b[j] == ch) {
                    flags1[i] = true;
                    flags2[j] = true;
                    matches++;
                    break;
                }
            }
        }
        if (matches == 0) {
            return 0.0;
        }
        int transpositions = 0;
        int j = 0;
        for (int i = 0; i < len1; i++) {
            if (flags1[i]) {
                while (!flags2[j]) {
                    j++;
                }
                if (a[i] != b[j]) {
                    transpositions++;
                }
                j++;
            }
        }
        // integer floor, NOT /2.0: an odd out-of-order count (possible when
        // the greedy window pairs different characters) floors in DuckDB /
        // rapidfuzz, and these kernels are pinned to DuckDB's values
        double t = transpositions / 2;
        double m = matches;
        return (m / len1 + m / len2 + (m - t) / m) / 3.0;
    }

    public static double jaroWinkler(String s1, String s2) {
        // equal strings score jaro 1.0, which no prefix bonus changes
        if (s1.equals(s2)) {
            return 1.0;
        }
        int[] a = cps(s1);
        int[] b = cps(s2);
        double jaro = jaro(a, b);
        // Winkler prefix bonus only above 0.7 (DuckDB / rapidfuzz default)
        if (jaro <= 0.7) {
            return jaro;
        }
        int prefix = 0;
        int bound = Math.min(4, Math.min(a.length, b.length));
        for (int i = 0; i < bound; i++) {
            if (a[i] == b[i]) {
                prefix++;
            } else {
                break;
            }
        }
        return jaro + prefix * 0.1 * (1.0 - jaro);
    }

    /**
     * Character-set Jaccard similarity (DuckDB jaccard semantics). Two ASCII
     * strings are two 128-bit masks counted with popcount; any other pair
     * intersects its sorted distinct code points by a merge.
     */
    public static double jaccardChars(String s1, String s2) {
        long lo1 = 0L;
        long hi1 = 0L;
        long lo2 = 0L;
        long hi2 = 0L;
        boolean ascii = true;
        for (int i = 0; ascii && i < s1.length(); i++) {
            char c = s1.charAt(i);
            ascii = c < 128;
            if (c < 64) {
                lo1 |= 1L << c;
            } else {
                hi1 |= 1L << c;  // shifts use the low 6 bits: bit c - 64
            }
        }
        for (int i = 0; ascii && i < s2.length(); i++) {
            char c = s2.charAt(i);
            ascii = c < 128;
            if (c < 64) {
                lo2 |= 1L << c;
            } else {
                hi2 |= 1L << c;
            }
        }
        int inter;
        int union;
        if (ascii) {
            inter = Long.bitCount(lo1 & lo2) + Long.bitCount(hi1 & hi2);
            union = Long.bitCount(lo1 | lo2) + Long.bitCount(hi1 | hi2);
        } else {
            int[] a = sortedDistinct(cps(s1));
            int[] b = sortedDistinct(cps(s2));
            inter = 0;
            for (int i = 0, j = 0; i < a.length && j < b.length; ) {
                if (a[i] < b[j]) {
                    i++;
                } else if (a[i] > b[j]) {
                    j++;
                } else {
                    inter++;
                    i++;
                    j++;
                }
            }
            union = a.length + b.length - inter;
        }
        // union is 0 only when both sets are empty
        return union == 0 ? 1.0 : (double) inter / union;
    }

    /**
     * Unrestricted Damerau-Levenshtein (adjacent transpositions). The
     * (len1 + 2) x (len2 + 2) table is one flat array; the last row each
     * character of s1 was seen on is a primitive table indexed by the
     * character's rank among s1's distinct code points.
     */
    public static int damerauLevenshtein(String s1, String s2) {
        if (s1.equals(s2)) {
            return 0;
        }
        int[] a = cps(s1);
        int[] b = cps(s2);
        int len1 = a.length;
        int len2 = b.length;
        if (len1 == 0) {
            return len2;
        }
        if (len2 == 0) {
            return len1;
        }
        int[] alphabet = sortedDistinct(a.clone());
        int[] rankA = new int[len1];
        for (int i = 0; i < len1; i++) {
            rankA[i] = Arrays.binarySearch(alphabet, a[i]);
        }
        int[] rankB = new int[len2];
        for (int j = 0; j < len2; j++) {
            rankB[j] = Arrays.binarySearch(alphabet, b[j]);  // < 0: not in s1
        }
        int[] da = new int[alphabet.length];
        int w = len2 + 2;
        int maxdist = len1 + len2;
        int[] d = new int[(len1 + 2) * w];
        d[0] = maxdist;
        for (int i = 0; i <= len1; i++) {
            d[(i + 1) * w] = maxdist;
            d[(i + 1) * w + 1] = i;
        }
        for (int j = 0; j <= len2; j++) {
            d[j + 1] = maxdist;
            d[w + j + 1] = j;
        }
        for (int i = 1; i <= len1; i++) {
            int db = 0;
            int row = (i + 1) * w;
            int up = i * w;
            for (int j = 1; j <= len2; j++) {
                int rb = rankB[j - 1];
                int k = rb < 0 ? 0 : da[rb];
                int l = db;
                int cost;
                if (a[i - 1] == b[j - 1]) {
                    cost = 0;
                    db = j;
                } else {
                    cost = 1;
                }
                d[row + j + 1] = Math.min(
                    Math.min(d[up + j] + cost, d[row + j] + 1),
                    Math.min(d[up + j + 1] + 1,
                             d[k * w + l] + (i - k - 1) + 1 + (j - l - 1)));
            }
            da[rankA[i - 1]] = i;
        }
        return d[(len1 + 1) * w + len2 + 1];
    }

    public static final class JaroSim implements UDF2<String, String, Double> {
        @Override
        public Double call(String a, String b) {
            return (a == null || b == null) ? null : jaro(a, b);
        }
    }

    public static final class JaroWinkler implements UDF2<String, String, Double> {
        @Override
        public Double call(String a, String b) {
            return (a == null || b == null) ? null : jaroWinkler(a, b);
        }
    }

    public static final class JaccardChars implements UDF2<String, String, Double> {
        @Override
        public Double call(String a, String b) {
            return (a == null || b == null) ? null : jaccardChars(a, b);
        }
    }

    public static final class DamerauLevenshtein implements UDF2<String, String, Double> {
        @Override
        public Double call(String a, String b) {
            return (a == null || b == null) ? null : (double) damerauLevenshtein(a, b);
        }
    }
}
