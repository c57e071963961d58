package graft.operators

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.sources.{Page, Pages}

/** Strongly-typed Dataset surface: the same operators as the Column API,
  * expressed over Dataset[Page] with case-class Encoders and typed
  * Aggregators — the API a library consumer writes pipeline code against
  * when compile-time row types matter more than dynamic schemas. Typed
  * lambdas trade some Catalyst visibility (filters become opaque to
  * pushdown) for type safety, so the UNTYPED versions stay the hot-path
  * defaults; parity between the two is ST-gated. */
object TypedQueries {

  final case class SourceLatest(source: String, nDocs: Long, latestDoc: Long, latestTs: Long)
  final case class LangStats(lang: String, nDocs: Long, sumChars: Long)

  /** Typed Aggregator: (count, arg-max-by-ts doc, max ts) in one pass. */
  private object LatestAgg extends Aggregator[Page, (Long, Long, Long), (Long, Long, Long)] {
    def zero: (Long, Long, Long) = (0L, Long.MinValue, Long.MinValue)
    def reduce(b: (Long, Long, Long), p: Page): (Long, Long, Long) = {
      val better = p.ts_sec > b._3 || (p.ts_sec == b._3 && p.doc_id > b._2)
      (b._1 + 1, if (better) p.doc_id else b._2, math.max(b._3, p.ts_sec))
    }
    def merge(a: (Long, Long, Long), b: (Long, Long, Long)): (Long, Long, Long) = {
      val better = b._3 > a._3 || (b._3 == a._3 && b._2 > a._2)
      (a._1 + b._1, if (better) b._2 else a._2, math.max(a._3, b._3))
    }
    def finish(r: (Long, Long, Long)): (Long, Long, Long) = r
    def bufferEncoder = org.apache.spark.sql.Encoders.tuple(
      org.apache.spark.sql.Encoders.scalaLong,
      org.apache.spark.sql.Encoders.scalaLong, org.apache.spark.sql.Encoders.scalaLong)
    def outputEncoder = bufferEncoder
  }

  /** E7 typed twin of q19 (latest doc per source): groupByKey + one typed
    * Aggregator — map-side combinable, same shuffle shape as the untyped
    * arg_max. Parity with `RelationalQueries.latestPerSource` is ST-gated. */
  def latestPerSourceTyped(spark: SparkSession, sfDir: String): Dataset[SourceLatest] = {
    import spark.implicits._
    Pages.typed(spark, sfDir)
      .groupByKey(_.source)
      .agg(LatestAgg.toColumn.name("agg"))
      .map { case (src, (n, doc, ts)) => SourceLatest(src, n, doc, ts) }
      .orderBy(col("source"))
  }

  /** Typed filter/map pipeline: language stats over quality-gated pages —
    * the Dataset[T] composition style (filter + groupByKey + mapGroups). */
  def langStatsTyped(spark: SparkSession, sfDir: String): Dataset[LangStats] = {
    import spark.implicits._
    Pages.typed(spark, sfDir)
      .filter(p => p.n_chars >= 10 && p.lang.nonEmpty)
      .groupByKey(_.lang)
      .mapGroups { (lang, ps) =>
        var n = 0L; var sum = 0L
        ps.foreach { p => n += 1; sum += p.n_chars }
        LangStats(lang, n, sum)
      }
      .orderBy(col("lang"))
  }
}
