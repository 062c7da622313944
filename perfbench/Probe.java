// Calibration probe: a fixed amount of integer work split over N threads.
// Reads one command per line on stdin; for "run" it does the work once and
// prints the wall time in nanoseconds. Launched as a single-file program
// (`java Probe.java <threads>`), so it needs no build step.
import java.io.BufferedReader;
import java.io.InputStreamReader;
import java.util.concurrent.CountDownLatch;

public class Probe {
    static final long ITERS = 25_000_000L;
    static volatile long sink;

    static long spin(long seed) {
        long x = seed | 1L;
        for (long i = 0; i < ITERS; i++) {
            x ^= x << 13;
            x ^= x >>> 7;
            x ^= x << 17;
        }
        return x;
    }

    static long once(int threads) throws InterruptedException {
        CountDownLatch done = new CountDownLatch(threads);
        long t0 = System.nanoTime();
        for (int t = 0; t < threads; t++) {
            final long seed = t + 1;
            Thread th = new Thread(() -> { sink += spin(seed); done.countDown(); });
            th.start();
        }
        done.await();
        return System.nanoTime() - t0;
    }

    public static void main(String[] args) throws Exception {
        int threads = Integer.parseInt(args[0]);
        BufferedReader in = new BufferedReader(new InputStreamReader(System.in));
        String line;
        while ((line = in.readLine()) != null) {
            if (line.trim().equals("run")) {
                System.out.println(once(threads));
                System.out.flush();
            } else if (line.trim().equals("quit")) {
                break;
            }
        }
    }
}
