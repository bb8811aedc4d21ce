import java.io.BufferedReader;
import java.io.InputStreamReader;
import java.util.Arrays;
import java.util.Random;

/**
 * The JVM half of the host-speed reference (see hostref.py).
 *
 * Usage: java HostRef.java N REPS. For each line on stdin it sorts a fixed
 * array of N random longs with Arrays.parallelSort, REPS times, and prints
 * the mean time of one sort in ms. It runs in a JVM of its own, so nothing
 * the engine sets for its JVM changes it.
 */
public class HostRef {
    public static void main(String[] args) throws Exception {
        int n = Integer.parseInt(args[0]);
        int reps = Integer.parseInt(args[1]);
        long[] source = new Random(42).longs(n).toArray();
        long[] work = new long[n];
        BufferedReader in = new BufferedReader(new InputStreamReader(System.in));
        while (in.readLine() != null) {
            long total = 0;
            for (int i = 0; i < reps; i++) {
                System.arraycopy(source, 0, work, 0, n);
                long t0 = System.nanoTime();
                Arrays.parallelSort(work);
                total += System.nanoTime() - t0;
            }
            System.out.println(total / 1e6 / reps);
            System.out.flush();
        }
    }
}
