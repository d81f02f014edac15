package graft
package catalog

import org.apache.spark.sql.functions._

import QuerySupport._

/** Log-source queries (SURVEY.md §2A): events are rendered as log lines
  * and read back through the `log` source, so DuckDB can check each
  * aggregate against the events table directly.
  */
private[graft] object LogSourceQueries extends QueryFamily {

  /** The oracle of both q_log_parse_agg and q_log_multiline. */
  private val LogParseAggOracle =
      """SELECT event_type, count(*) AS n, floor(sum(round(value, 2)) * 100 + 0.5) / 100 AS sum_value,
        |       max(event_id) AS max_event_id
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The oracle of both q_log_gzip and q_log_bzip2. */
  private val LogCompressedOracle =
      """SELECT event_type, count(*) AS n,
        |       floor(max(round(value, 2)) * 100 + 0.5) / 100 AS max_value,
        |       CAST(sum(user_id) AS BIGINT) AS sum_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  query("q_log_parse_agg", LogParseAggOracle) { (spark, dir) =>
    val path = logDir(spark, dir, "plain")
    spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("extensions", "txt")
      .load(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        r(sum("value"), 2).as("sum_value"),
        max("event_id").cast("long").as("max_event_id"))
      .orderBy("event_type")
  }

  /** Named-preset dialect parsing (`format=apache_combined`,
    * [[graft.log.LogOptions.Presets]]): real apache lines — including the
    * dialect's `-` "no body" marker, which must land as a NULL bytes
    * column under tolerant mode, not kill the scan — parsed with a
    * one-line config instead of hand-written pattern/fieldNames/
    * dataTypes. The TIMESTAMP column round-trips the bracketed
    * `dd/MMM/yyyy:HH:mm:ss Z` stamp; `max_hour` pins it.
    */
  query("q_log_apache",
      """SELECT CAST(CASE WHEN event_type = 'error' THEN 500 ELSE 200 END AS BIGINT)
        |         AS status,
        |       count(*) AS n,
        |       CAST(sum(CASE WHEN event_id % 10 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS n_bytes_null,
        |       CAST(sum(CASE WHEN event_id % 10 <> 0
        |                     THEN CAST(floor("value" * 100) AS BIGINT) END)
        |         AS BIGINT) AS sum_bytes,
        |       count(DISTINCT user_id % 200) AS n_hosts,
        |       CAST(max(hour(ts)) AS BIGINT) AS max_hour
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val path = logDir(spark, dir, "apache")
    spark.read.format("log")
      .option("format", "apache_combined")
      .option("extensions", "txt")
      .load(path)
      .groupBy(col("status").cast("long").as("status"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("bytes").isNull, 1L).otherwise(0L)).as("n_bytes_null"),
        sum(col("bytes").cast("long")).as("sum_bytes"),
        countDistinct(col("host")).as("n_hosts"),
        max(hour(col("ts"))).cast("long").as("max_hour"))
      .orderBy("status")
  }

  /** Partition-pruned scan ([[graft.log.PartitionValues]], the Spark-shaped
    * rebuild of Drill's `dir0`-style directory columns): a hive tree
    * `dt=YYYY-MM-DD/part-*.txt`, read with `partitionSchema=dt DATE`, a
    * one-week DATE range filter claimed as a PARTITION filter — 23 of the
    * 30 daily partitions are pruned at plan time, never listed into
    * chunks, opened, or regex-parsed. The `dt` group key costs nothing
    * per row (per-chunk constant). At 100 TB this is the dominant scan
    * lever: the same query over a year of logs touches ~1/52nd of the
    * corpus.
    */
  query("q_log_partitioned",
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS dt, event_type, count(*) AS n,
        |       max(event_id) AS max_event_id,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user_id
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val path = logDir(spark, dir, "hive")
    spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("partitionSchema", "dt DATE")
      .option("extensions", "txt")
      .load(path)
      .filter(col("dt").between(
        lit(java.sql.Date.valueOf("2024-01-08")),
        lit(java.sql.Date.valueOf("2024-01-14"))))
      .groupBy(date_format(col("dt"), "yyyy-MM-dd").as("dt"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        max("event_id").cast("long").as("max_event_id"),
        sum(col("user_id").cast("long")).as("sum_user_id"))
      .orderBy("dt", "event_type")
  }

  /** Positional dir columns ([[graft.log.PartitionValues]] dirColumns —
    * Drill's `dir0`/`dirN`, the plain `yyyy/MM/dd` tree with no `k=v`
    * naming): a week of day directories selected by a STRING range on
    * the day segment, claimed as partition filters — the other 23 day
    * dirs are pruned before any task launches.
    */
  query("q_log_dircols",
      """SELECT strftime(ts, '%d') AS d, event_type, count(*) AS n,
        |       max(event_id) AS max_event_id,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user_id
        |FROM events
        |WHERE strftime(ts, '%d') BETWEEN '08' AND '14'
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (spark, dir) =>
    val path = logDir(spark, dir, "dirs")
    spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("dirColumns", "y, m, d")
      .option("extensions", "txt")
      .load(path)
      .filter(col("d") >= "08" && col("d") <= "14")
      .groupBy(col("d"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        max("event_id").cast("long").as("max_event_id"),
        sum(col("user_id").cast("long")).as("sum_user_id"))
      .orderBy("d", "event_type")
  }

  /** The direct-SQL surface end to end ([[graft.log.LogPathRelation]] +
    * the SQL-registered `parse_log_line`): `FROM log.`dir`` with the
    * default one-column schema, regex extraction and aggregation written
    * entirely in SQL — zero DataFrame code, Drill's ad-hoc usage mode.
    * Same readout as q_log_parse_agg's typed pipeline, so the oracle is
    * the events aggregate.
    */
  query("q_log_sqlpath",
      """SELECT event_type, count(*) AS n, max(event_id) AS max_event_id,
        |       CAST(sum(user_id) AS BIGINT) AS sum_user_id
        |FROM events GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val path = logDir(spark, dir, "plainlog")
    spark.sql(
      raw"""SELECT g[1] AS event_type, count(*) AS n,
           |       max(cast(g[0] AS BIGINT)) AS max_event_id,
           |       cast(sum(cast(g[2] AS BIGINT)) AS BIGINT) AS sum_user_id
           |FROM (SELECT parse_log_line(line,
           |        '(\\d+) (\\w+) user=(\\d+) ([0-9.]+)') AS g
           |      FROM log.`$path`)
           |WHERE g IS NOT NULL
           |GROUP BY 1 ORDER BY 1""".stripMargin)
  }

  query("q_log_unmatched",
      """SELECT count(*) FILTER (WHERE event_type <> 'error') AS n_matched,
        |       count(*) FILTER (WHERE event_type = 'error') AS n_unmatched
        |FROM events""".stripMargin) { (spark, dir) =>
    val path = logDir(spark, dir, "mixed")
    spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("extensions", "txt")
      .load(path)
      .agg(
        count(col("event_type")).cast("long").as("n_matched"),
        count(col("unmatched_lines")).cast("long").as("n_unmatched"))
  }

  query("q_log_typed_dates",
      """SELECT strftime(ts, '%Y-%m-%d') AS d, count(*) AS n,
        |       min((date_part('hour', ts) * 3600 + date_part('minute', ts) * 60
        |            + date_part('second', ts)) * 1000) AS min_ms_of_day,
        |       count(DISTINCT event_type) AS n_types
        |FROM events GROUP BY 1 ORDER BY d""".stripMargin) { (spark, dir) =>
    val path = logDir(spark, dir, "dated")
    spark.read.format("log")
      .option("pattern", "(\\S+) (\\d{2}:\\d{2}:\\d{2}) (\\w+) evt=(\\d+)")
      .option("fieldNames", "d, tm, event_type, event_id")
      .option("dataTypes", "DATE, TIME, VARCHAR, INT")
      .option("dateFormat", "yyyy-MM-dd")
      .option("timeFormat", "HH:mm:ss")
      .option("extensions", "txt")
      .load(path)
      .groupBy(date_format(col("d"), "yyyy-MM-dd").as("d")) // string: stable dtype across engines
      .agg(count(lit(1)).as("n"),
        min(col("tm")).cast("long").as("min_ms_of_day"),
        countDistinct(col("event_type")).as("n_types"))
      .orderBy("d")
  }

  /** TIMESTAMP coercion end-to-end (ref `LogRecordReader.java:256-267`):
    * the full date+time string is ONE capture group typed TIMESTAMP, parsed
    * with the shared `dateFormat` (the reference has no separate timestamp
    * format). Aggregates group on and emit the parsed timestamps.
    */
  query("q_log_timestamp",
      """SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hour, count(*) AS n,
        |       strftime(min(date_trunc('second', ts)), '%Y-%m-%d %H:%M:%S') AS min_ts,
        |       strftime(max(date_trunc('second', ts)), '%Y-%m-%d %H:%M:%S') AS max_ts,
        |       min(event_id) AS min_event_id
        |FROM events GROUP BY 1 ORDER BY hour""".stripMargin) { (spark, dir) =>
    val path = logDir(spark, dir, "dated")
    spark.read.format("log")
      .option("pattern", "(\\d{4}-\\d{2}-\\d{2} \\d{2}:\\d{2}:\\d{2}) (\\w+) evt=(\\d+)")
      .option("fieldNames", "ts, event_type, event_id")
      .option("dataTypes", "TIMESTAMP, VARCHAR, INT")
      .option("dateFormat", "yyyy-MM-dd HH:mm:ss")
      .option("extensions", "txt")
      .load(path)
      .groupBy(date_format(col("ts"), "yyyy-MM-dd HH").as("hour"))
      .agg(count(lit(1)).as("n"),
        date_format(min(col("ts")), "yyyy-MM-dd HH:mm:ss").as("min_ts"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts"),
        min(col("event_id")).cast("long").as("min_event_id"))
      .orderBy("hour")
  }

  /** FAILFAST end-to-end over clean input (ref `LogRecordReader.java:283-292`
    * strict half): the query only succeeds if every line matches AND every
    * coercion succeeds — the oracle reproduces the aggregate, proving the
    * strict path ran to completion (the throwing cases are unit-tested).
    */
  query("q_log_failfast",
      """SELECT user_id % 10 AS user_bucket, count(*) AS n,
        |       floor(sum(round(value, 2)) * 100 + 0.5) / 100 AS sum_value
        |FROM events GROUP BY 1 ORDER BY user_bucket""".stripMargin) { (spark, dir) =>
    val path = logDir(spark, dir, "plain")
    spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("extensions", "txt")
      .option("mode", "FAILFAST")
      .load(path)
      .groupBy((col("user_id") % 10).cast("long").as("user_bucket"))
      .agg(count(lit(1)).as("n"), r(sum("value"), 2).as("sum_value"))
      .orderBy("user_bucket")
  }

  /** Compressed-input codec path (ref `LogRecordReader.java:124-129`
    * decompress-on-read): same scan as q_log_parse_agg but over gzip'd
    * files — one non-splittable split per .gz file, codec-detected by
    * suffix; extension routing matches `*.txt.gz` against `txt`.
    */
  query("q_log_gzip", LogCompressedOracle) { (spark, dir) =>
    val path = logDir(spark, dir, "plain_gz")
    spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("extensions", "txt")
      .load(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        r(max("value"), 2).as("max_value"),
        sum(col("user_id").cast("long")).as("sum_users"))
      .orderBy("event_type")
  }

  /** The NATIVE streaming source end-to-end ([[graft.log.LogMicroBatchStream]]):
    * `readStream.format("log")` tails the synthesized log directory with
    * `maxFilesPerTrigger` admission control (several bounded micro-batches,
    * not one unbounded backlog batch), parses each line through the same
    * regex/type pipeline as the batch scan, and aggregates with a complete-
    * mode memory sink (the oracle-harness shape — see q_streaming_sink for
    * the production append shape). The oracle recomputes the aggregate from
    * the events table the lines were synthesized from.
    */
  query("q_log_stream",
      """SELECT event_type, count(*) AS n, CAST(sum(user_id) AS BIGINT) AS sum_users
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin, Drain.Stateless) { (spark, dir) =>
    // 16 files + maxFilesPerTrigger=8 -> the drain really runs >1 batch
    val path = logDir(spark, dir, "plain_many")
    val stream = spark.readStream.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("extensions", "txt")
      .option("maxFilesPerTrigger", "8")
      .load(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum(col("user_id").cast("long")).as("sum_users"))
    // Memory-sink table name derived from the input dir: concurrent drains
    // over different dirs (parallel bench/test runs in one session) must not
    // collide on a duplicate active query name / shared complete-mode table.
    val sinkName = "graft_log_stream_out_" + tmpKey(path)
    // batch-sized state width: the complete-mode aggregation
    // instantiates one state store per shuffle partition per batch — at
    // the session's 32-wide default that is 32 store open/commits per
    // micro-batch for a 5-group aggregate; the source's own parallelism
    // (maxFilesPerTrigger splits) is unaffected
    drain(stream, "q_log_stream", stateCap = Some(8)) {
      _.outputMode("complete").format("memory").queryName(sinkName)
    }
    spark.table(sinkName).orderBy("event_type")
  }

  /** The SPLITTABLE compressed codec path: bzip2 files are chunked at
    * maxSplitBytes boundaries like uncompressed ones (gzip, above, stays
    * one-split-per-file) — the difference between one task per archive and
    * cluster-wide fan-out when someone hands the pipeline 100 TB of .bz2
    * logs. Split-boundary parity is spec-asserted (LogSourceSpec); here the
    * whole scan must reproduce the gzip query's aggregate exactly.
    */
  query("q_log_bzip2", LogCompressedOracle) { (spark, dir) =>
    val path = logDir(spark, dir, "plain_bz2")
    spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("extensions", "txt")
      .load(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        r(max("value"), 2).as("max_value"),
        sum(col("user_id").cast("long")).as("sum_users"))
      .orderBy("event_type")
  }

  /** In-reader predicate pushdown (SURVEY.md §4.1 optional item, now
    * implemented): both conjuncts are claimed by the scan, evaluated inside
    * [[graft.log.LineParser]] before row materialization — non-qualifying
    * lines never become rows. Result identical to Catalyst filtering (the
    * oracle proves it); `LogPushdownSpec`/`PlanSpec` assert the plan shape.
    */
  query("q_log_pushdown",
      """SELECT CAST(user_id % 10 AS BIGINT) AS user_bucket, count(*) AS n,
        |       floor(sum(round(value, 2)) * 100 + 0.5) / 100 AS sum_value
        |FROM events WHERE event_type = 'click' AND user_id < 500
        |GROUP BY 1 ORDER BY 1""".stripMargin) { (spark, dir) =>
    val path = logDir(spark, dir, "plain")
    spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("extensions", "txt")
      .load(path)
      .filter(col("event_type") === "click" && col("user_id") < 500)
      .groupBy((col("user_id") % 10).cast("long").as("user_bucket"))
      .agg(count(lit(1)).as("n"), r(sum("value"), 2).as("sum_value"))
      .orderBy("user_bucket")
  }

  /** Multi-line records (beyond-reference — the reference is strictly
    * line-framed, `LogRecordReader.java:212`): `recordStartPattern` frames
    * each 3-line synthesized record (stack-trace / MySQL-slow-query shape),
    * and the parse pattern extracts `value` from the TAIL line — a match is
    * impossible without correct record assembly, including records that
    * straddle file-split boundaries (LogSourceSpec forces tiny splits; here
    * the normal split sizing applies). The oracle recomputes the aggregate
    * from the events table the records were synthesized from.
    */
  query("q_log_multiline", LogParseAggOracle) { (spark, dir) =>
    val path = logDir(spark, dir, "multiline")
    spark.read.format("log")
      .option("pattern", "(?s)(\\d+) (\\w+) user=(\\d+)\\n  seq=\\d+\\n  tail value=([0-9.]+)")
      .option("recordStartPattern", "^\\d+ ")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("extensions", "txt")
      .load(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        r(sum("value"), 2).as("sum_value"),
        max("event_id").cast("long").as("max_event_id"))
      .orderBy("event_type")
  }

  /** DROPMALFORMED mode (CSV-parity third mode, beyond-reference): corrupt
    * lines are dropped by the reader instead of routed to
    * `unmatched_lines`; the oracle keeps exactly the non-corrupt events.
    */
  query("q_log_dropmalformed",
      """SELECT event_type, count(*) AS n,
        |       floor(sum(round(value, 2)) * 100 + 0.5) / 100 AS sum_value
        |FROM events WHERE event_type <> 'error'
        |GROUP BY event_type ORDER BY event_type""".stripMargin) { (spark, dir) =>
    val path = logDir(spark, dir, "mixed")
    spark.read.format("log")
      .option("pattern", "(\\d+) (\\w+) user=(\\d+) ([0-9.]+)")
      .option("fieldNames", "event_id, event_type, user_id, value")
      .option("dataTypes", "INT, VARCHAR, INT, DOUBLE")
      .option("extensions", "txt")
      .option("mode", "DROPMALFORMED")
      .load(path)
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), r(sum("value"), 2).as("sum_value"))
      .orderBy("event_type")
  }
}
