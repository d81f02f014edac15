package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}

import graft.functions.{CanonicalizeUrl, CosineSimilarity, HashedShingles, MinHashSignature, ParseLogLineSql, RollingHashFingerprint, SimHash128, SimHash64, UnicodeNormalize, VectorMean}

/** SQL-surface registration of the engine's custom Catalyst expressions, so
  * `spark.sql("SELECT parse_log_line(value, '(\\d+)') ...")` works next to
  * the Column API:
  *
  * {{{
  * SparkSession.builder().withExtensions(new GraftExtensions) ...
  * // or: spark.sql.extensions=graft.GraftExtensions
  * }}}
  *
  * The extension surface is scalar functions, ONE resolution rule and ONE
  * optimizer rule:
  *   - [[graft.log.ResolveLogPathTable]]: `SELECT * FROM log.`/path`` —
  *     Spark grants that syntax only to v1 FileFormat sources, and ad-hoc
  *     SQL over a file is the reference deployment's primary usage mode;
  *   - [[graft.log.AbsorbParseLogLine]]: `parse_log_line(line, p)` over a
  *     default `(.*)` read becomes a read of `p`, so each line is matched
  *     once, in the reader, instead of by `(.*)` and then again by every
  *     operator that evaluates the call (its filter and its projection).
  *     It runs with the operator optimizations, before the scan's
  *     filter and column push-down, which then claim its
  *     `unmatched_lines IS NULL` and prune its unread fields.
  * No strategies are injected.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {

  private def info(name: String, usage: String) =
    new ExpressionInfo(classOf[GraftExtensions].getName, null, name, usage, "")

  override def apply(e: SparkSessionExtensions): Unit = {
    // SELECT ... FROM log.`/path` (see graft.log.LogPathRelation): the
    // parser wrapper is the catalog-agnostic interception point (Hive
    // session state drops custom hint rules, and the main resolution
    // batch is too late — ResolveSQLOnFile throws for DSV2 sources
    // before extension rules run); the hint rule covers non-parser plans.
    e.injectParser((spark, delegate) => new graft.log.LogPathParser(spark, delegate))
    e.injectHintResolutionRule(spark => new graft.log.ResolveLogPathTable(spark))
    e.injectOptimizerRule(_ => graft.log.AbsorbParseLogLine)
    e.injectFunction((
      FunctionIdentifier("parse_log_line"),
      info("parse_log_line", "parse_log_line(line, pattern) - one-pass regex extract of all capture groups"),
      (args: Seq[Expression]) => ParseLogLineSql.build(args)))
    e.injectFunction((
      FunctionIdentifier("simhash64"),
      info("simhash64", "simhash64(tokens) - 64-bit SimHash of an array<string>"),
      (args: Seq[Expression]) => SimHash64(args.head)))
    e.injectFunction((
      FunctionIdentifier("simhash128"),
      info("simhash128", "simhash128(tokens) - 128-bit SimHash of an array<string> as [w0, w1]"),
      (args: Seq[Expression]) => SimHash128(args.head)))
    e.injectFunction((
      FunctionIdentifier("minhash_signature"),
      info("minhash_signature", "minhash_signature(hashes, n) - n-component MinHash of array<long>"),
      (args: Seq[Expression]) => MinHashSignature(args.head, ParseLogLineSql.intArg(args, 1))))
    e.injectFunction((
      FunctionIdentifier("hashed_shingles"),
      info("hashed_shingles", "hashed_shingles(text, n) - xxhash64 of each word n-gram"),
      (args: Seq[Expression]) => HashedShingles(args.head, ParseLogLineSql.intArg(args, 1))))
    e.injectFunction((
      FunctionIdentifier("chunk_text"),
      info("chunk_text", "chunk_text(text, chunkSize, stride) - overlapping token-window chunk strings"),
      (args: Seq[Expression]) => graft.functions.ChunkText(args.head,
        ParseLogLineSql.intArg(args, 1), ParseLogLineSql.intArg(args, 2))))
    e.injectFunction((
      FunctionIdentifier("rolling_fingerprint"),
      info("rolling_fingerprint", "rolling_fingerprint(text, window) - winnowing min rolling hash"),
      (args: Seq[Expression]) => RollingHashFingerprint(args.head, ParseLogLineSql.intArg(args, 1))))
    e.injectFunction((
      FunctionIdentifier("cosine_similarity"),
      info("cosine_similarity", "cosine_similarity(a, b) - cosine of two array<double> (0.0 on zero norm)"),
      (args: Seq[Expression]) => CosineSimilarity(args(0), args(1))))
    e.injectFunction((
      FunctionIdentifier("unicode_normalize"),
      info("unicode_normalize", "unicode_normalize(text) - NFC + lowercase + whitespace collapse"),
      (args: Seq[Expression]) => UnicodeNormalize(args.head)))
    e.injectFunction((
      FunctionIdentifier("canonicalize_url"),
      info("canonicalize_url", "canonicalize_url(url) - lowercase scheme/host, drop fragment/default port/tracking params, sort query params"),
      (args: Seq[Expression]) => CanonicalizeUrl(args.head)))
    e.injectFunction((
      FunctionIdentifier("l2_normalize"),
      info("l2_normalize", "l2_normalize(array<double>) - unit-L2 vector (zero vector unchanged)"),
      (args: Seq[Expression]) => graft.functions.L2Normalize(args.head)))
    e.injectFunction((
      FunctionIdentifier("vector_mean"),
      info("vector_mean", "vector_mean(array<double>) - element-wise mean aggregate"),
      (args: Seq[Expression]) => VectorMean(args.head).toAggregateExpression()))
    e.injectFunction((
      FunctionIdentifier("zorder64"),
      info("zorder64", "zorder64(a, b) - 64-bit Morton interleave of two bigints (clustering key)"),
      (args: Seq[Expression]) => graft.functions.ZOrder64(args(0), args(1))))
  }
}
