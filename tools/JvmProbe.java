import java.io.File;
import java.lang.management.ManagementFactory;

import org.apache.spark.metrics.source.CodegenMetrics;
import org.apache.spark.sql.SparkSession;

/**
 * Diagnostic driver for tools/jvm_probe.py: runs one tmsbench workload
 * for a number of ops in one JVM and prints, per op, its latency, the
 * classes Spark's code generator compiled during it and the JIT time.
 * The session mirrors tmsbench.Main's. Launched in source-file mode
 * (`java -cp <bench classpath> tools/JvmProbe.java ...`), so it needs no
 * build of its own.
 *
 * Arguments: workload inputs-dir work-dir ops cores
 */
public class JvmProbe {
    public static void main(String[] args) throws Exception {
        String workload = args[0];
        File inputs = new File(args[1]);
        File work = new File(args[2]);
        int ops = Integer.parseInt(args[3]);
        int cores = Integer.parseInt(args[4]);
        SparkSession spark = SparkSession.builder()
            .master("local[" + cores + "]")
            .appName("jvm_probe")
            .config("spark.sql.shuffle.partitions", Integer.toString(cores))
            .config("spark.ui.enabled", "false")
            .config("spark.sql.session.timeZone", "UTC")
            .config("spark.sql.warehouse.dir", new File(work, "warehouse").getAbsolutePath())
            .config("spark.local.dir", new File(work, "tmp").getAbsolutePath())
            .getOrCreate();
        spark.sparkContext().setLogLevel("WARN");
        tmsbench.Tracer tr = new tmsbench.Tracer();
        tr.attach(spark);
        tmsbench.Workload w = tmsbench.Workload$.MODULE$.apply(
            workload, spark, inputs, new File(work, "state"), tr);
        w.setUp();
        System.out.println("PROBE setup_compiles " + compiles());
        for (int i = 0; i < ops; i++) {
            long c0 = compiles();
            long j0 = ManagementFactory.getCompilationMXBean().getTotalCompilationTime();
            double s = w.op(i) / 1e9;
            System.out.printf("PROBE op %d latency_s %.3f compiles %d jit_ms %d%n", i, s,
                compiles() - c0,
                ManagementFactory.getCompilationMXBean().getTotalCompilationTime() - j0);
        }
        w.tearDown();
        spark.stop();
    }

    private static long compiles() {
        return CodegenMetrics.METRIC_COMPILATION_TIME().getCount();
    }
}
