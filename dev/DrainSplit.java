import java.nio.file.Path;
import java.time.Instant;
import java.util.ArrayList;
import java.util.LinkedHashMap;
import java.util.List;
import java.util.Map;

import jdk.jfr.consumer.RecordedEvent;
import jdk.jfr.consumer.RecordedFrame;
import jdk.jfr.consumer.RecordedThread;
import jdk.jfr.consumer.RecordingFile;

/**
 * Splits the execution samples of a perfbench `log_stream` run's drain
 * window by component (dev/DRAIN_PROFILE.md, "The `log` stream's drain
 * floor").
 *
 *   JAVA_TOOL_OPTIONS="-XX:StartFlightRecording=settings=profile,filename=run.jfr" \
 *     python3 perfbench/run.py --workload log_stream --seed 1 --seconds 10 --trace 0
 *   java dev/DrainSplit.java run.jfr
 *
 * The drain window runs from the start to the end of the last streaming
 * query's execution thread (the measured drain; set-up, priming and the
 * open loop start theirs earlier). Every Java-thread sample inside it is
 * counted once, in the first bucket whose frames its stack contains; the
 * order below puts the narrow causes before the broad callers.
 */
public class DrainSplit {
  static final Map<String, String[]> BUCKETS = new LinkedHashMap<>();
  static {
    BUCKETS.put("process launches (Hadoop Shell)",
        new String[] {"java.lang.ProcessBuilder.start", "org.apache.hadoop.util.Shell."});
    BUCKETS.put("SerializableConfiguration (Spark write tasks)",
        new String[] {"org.apache.spark.util.SerializableConfiguration."});
    BUCKETS.put("LineRecordReader.initialize",
        new String[] {"org.apache.hadoop.mapreduce.lib.input.LineRecordReader.initialize"});
    BUCKETS.put("codegen (compile, class lookups)",
        new String[] {"org.codehaus.janino.", "org.codehaus.commons.compiler.",
            "org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator"});
    BUCKETS.put("state store",
        new String[] {"org.apache.spark.sql.execution.streaming.state."});
    BUCKETS.put("parquet write (IdempotentParquetSink)",
        new String[] {"org.apache.parquet.", "FileFormatWriter", "graft.streaming.IdempotentParquetSink"});
    BUCKETS.put("LogMicroBatchStream", new String[] {"graft.log.LogMicroBatchStream."});
    BUCKETS.put("log reader (framing, parse)", new String[] {"graft.log."});
  }

  public static void main(String[] args) throws Exception {
    List<RecordedEvent> samples = new ArrayList<>();
    Instant from = null, to = null;
    long streamThread = -1;
    try (RecordingFile rf = new RecordingFile(Path.of(args[0]))) {
      while (rf.hasMoreEvents()) {
        RecordedEvent e = rf.readEvent();
        String type = e.getEventType().getName();
        if (type.equals("jdk.ExecutionSample")) {
          samples.add(e);
        } else if (type.equals("jdk.ThreadStart") || type.equals("jdk.ThreadEnd")) {
          RecordedThread t = e.getThread("thread");
          String name = t == null ? null : t.getJavaName();
          if (name == null || !name.startsWith("stream execution thread for")) continue;
          if (type.equals("jdk.ThreadStart") && (from == null || e.getStartTime().isAfter(from))) {
            from = e.getStartTime();
            streamThread = t.getJavaThreadId();
            to = null;
          } else if (type.equals("jdk.ThreadEnd") && t.getJavaThreadId() == streamThread) {
            to = e.getStartTime();
          }
        }
      }
    }
    if (from == null) throw new IllegalStateException("no streaming query thread in " + args[0]);
    if (to == null) to = Instant.MAX;
    Map<String, Integer> counts = new LinkedHashMap<>();
    BUCKETS.keySet().forEach(k -> counts.put(k, 0));
    counts.put("other", 0);
    int total = 0;
    for (RecordedEvent e : samples) {
      if (e.getStartTime().isBefore(from) || e.getStartTime().isAfter(to)) continue;
      total++;
      counts.merge(bucketOf(e), 1, Integer::sum);
    }
    System.out.printf("drain window %.2f s, %d samples%n",
        (to.equals(Instant.MAX) ? 0 : to.toEpochMilli() - from.toEpochMilli()) / 1000.0, total);
    for (Map.Entry<String, Integer> c : counts.entrySet())
      System.out.printf("  %-48s %5d  %5.1f%%%n", c.getKey(), c.getValue(),
          100.0 * c.getValue() / Math.max(1, total));
  }

  static String bucketOf(RecordedEvent sample) {
    List<RecordedFrame> frames = sample.getStackTrace() == null
        ? List.of() : sample.getStackTrace().getFrames();
    for (Map.Entry<String, String[]> b : BUCKETS.entrySet())
      for (RecordedFrame f : frames) {
        String m = f.getMethod().getType().getName() + "." + f.getMethod().getName();
        for (String prefix : b.getValue())
          if (m.startsWith(prefix) || m.contains("." + prefix)) return b.getKey();
      }
    return "other";
  }
}
