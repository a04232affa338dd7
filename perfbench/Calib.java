// Calibration job for the benchmark, in a JVM of its own.
//
//     java perfbench/Calib.java NPROC
//
// Serves requests on stdin: a line holding a number n runs a fixed job
// n times and prints one line with the wall seconds of each run,
// separated by spaces. End of input exits.
//
// The job has the shape of a small Spark stage on NPROC cores: each of
// NPROC threads hashes its slice of 2,000,000 ids, sorts the hashes and
// sums them into a boxed hash map by key, so it exercises JIT-compiled
// code, allocation, GC and memory bandwidth. It shares nothing with the
// benchmarked JVM but the machine, so the program under test cannot
// change its time.

import java.io.BufferedReader;
import java.io.InputStreamReader;
import java.util.ArrayList;
import java.util.Arrays;
import java.util.HashMap;
import java.util.List;
import java.util.concurrent.ExecutorService;
import java.util.concurrent.Executors;
import java.util.concurrent.Future;

public class Calib {
    static final int ROWS = 2_000_000;
    static final int KEYS = 977;

    static long mix(long x) {
        x ^= x >>> 33;
        x *= 0xff51afd7ed558ccdL;
        x ^= x >>> 33;
        x *= 0xc4ceb9fe1a85ec53L;
        return x ^ (x >>> 33);
    }

    static long slice(int part, int parts) {
        int lo = (int) ((long) ROWS * part / parts);
        int hi = (int) ((long) ROWS * (part + 1) / parts);
        long[] hashes = new long[hi - lo];
        HashMap<Long, Long> sums = new HashMap<>();
        for (int id = lo; id < hi; id++) {
            long h = mix(id);
            hashes[id - lo] = h;
            sums.merge((long) (id % KEYS), h, Long::sum);
        }
        Arrays.sort(hashes);
        long acc = hashes[hashes.length / 2];
        for (long v : sums.values()) {
            acc += v;
        }
        return acc;
    }

    public static void main(String[] args) throws Exception {
        int nproc = Integer.parseInt(args[0]);
        ExecutorService pool = Executors.newFixedThreadPool(nproc);
        BufferedReader in = new BufferedReader(new InputStreamReader(System.in));
        long sink = 0;
        String line;
        while ((line = in.readLine()) != null) {
            int reps = Integer.parseInt(line.trim());
            StringBuilder out = new StringBuilder();
            for (int r = 0; r < reps; r++) {
                long t0 = System.nanoTime();
                List<Future<Long>> parts = new ArrayList<>();
                for (int p = 0; p < nproc; p++) {
                    final int part = p;
                    parts.add(pool.submit(() -> slice(part, nproc)));
                }
                for (Future<Long> f : parts) {
                    sink += f.get();
                }
                out.append(r == 0 ? "" : " ").append((System.nanoTime() - t0) / 1e9);
            }
            System.out.println(out);
            System.out.flush();
        }
        pool.shutdown();
        // Keeps the JIT from discarding the job as dead code.
        if (sink == 42) {
            System.err.println(sink);
        }
    }
}
