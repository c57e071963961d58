package graft.operators

import org.apache.spark.sql.functions._

import graft.testutil.SparkTestBase

/** Laws of the NB-surrogate classifier (q132) and packing audit (q133)
  * the DuckDB oracle can't see. */
class ClassifierSpec extends SparkTestBase {

  test("q132 confusion matrix conserves the test split; model mass normalizes") {
    val rows = ClassifierQueries.nbConfusion(spark, sf0001).collect()
      .map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
    graft.util.CacheBag.release()
    val docs = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // conservation: every odd-id doc is classified exactly once
    val testByLang = docs.filter(_._1 % 2 == 1).groupBy(_._2).view.mapValues(_.length.toLong)
    assert(rows.map(_._2).sum === testByLang.values.sum)
    testByLang.foreach { case (lang, n) =>
      assert(rows.filter(_._1._1 == lang).map(_._2).sum === n, s"lang $lang rows lost")
    }
    // Laplace normalization: per class, Σ_vocab w + (V − seen_l)·b_l is
    // within floor loss of 1e6 (the model is a probability surrogate)
    val train = docs.filter(_._1 % 2 == 0)
      .flatMap { case (_, lang, text) => text.split(" ", -1).map(t => (t, lang)) }
    val vocab = train.map(_._1).distinct
    val v = vocab.length.toLong
    train.groupBy(_._2).foreach { case (lang, xs) =>
      val cntL = xs.length.toLong
      val den = cntL + v
      val byTok = xs.groupBy(_._1).view.mapValues(_.length.toLong)
      val seenMass = byTok.values.map(c => (c + 1) * 1000000L / den).sum
      val unseenMass = (v - byTok.size) * (1000000L / den)
      val total = seenMass + unseenMass
      assert(total <= 1000000L && total > 1000000L - v - 1,
        s"class $lang mass $total not a floor-lossy 1e6")
    }
  }

  test("q142 vocab coverage: monotone in k; saturates at full vocabulary") {
    val rows = ClassifierQueries.vocabCoverage(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    graft.util.CacheBag.release()
    assert(rows.map(_._1).toSeq === ClassifierQueries.VocabKs)
    // coverage and type counts are nondecreasing in k
    rows.sliding(2).foreach {
      case Array(a, b) =>
        assert(a._2 <= b._2 && a._3 <= b._3 && a._4 <= b._4, s"non-monotone: $a -> $b")
      case _ =>
    }
    // brute recompute against the raw token stream
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(explode(split(col("text"), " ")).as("t")).collect().map(_.getString(0))
    val byRank = toks.groupBy(identity).view.mapValues(_.length.toLong).toSeq
      .sortBy { case (t, c) => (-c, t) }
    val total = toks.length.toLong
    rows.foreach { case (k, nTypes, mass, cov) =>
      val top = byRank.take(k.toInt)
      assert(nTypes === top.length.toLong)
      assert(mass === top.map(_._2).sum)
      assert(cov === mass * 1000 / total)
    }
    // the ladder's top rung covers the full (31-type) fixture vocabulary
    assert(rows.last._4 === 1000L, "ladder must saturate on the fixture")
  }

  test("q143 collocations == brute lift recompute; support respected; lift above independence") {
    val texts = spark.read.parquet(s"$sf0001/documents.parquet")
      .select("text").collect().map(_.getString(0))
    val toks = texts.flatMap(_.split(" ", -1))
    val uni = toks.groupBy(identity).view.mapValues(_.length.toLong)
    val total = toks.length.toLong
    val pairCounts = texts.flatMap(t => t.split(" ", -1).sliding(2).collect {
      case Array(a, b) => (a, b)
    }).groupBy(identity).view.mapValues(_.length.toLong)
      .filter(_._2 >= ClassifierQueries.CollMinPairs)
    val expect = pairCounts.toSeq.map { case ((a, b), n) =>
      (a, b, n, (BigInt(n) * total * 1000 / (BigInt(uni(a)) * uni(b))).toLong)
    }.sortBy { case (a, b, _, l) => (-l, a, b) }.take(ClassifierQueries.CollTopK)
    val got = ClassifierQueries.collocations(spark, sf0001).collect()
      .map(r => (r.getString(0), r.getString(1), r.getLong(2), r.getLong(3))).toSeq
    graft.util.CacheBag.release()
    assert(got === expect)
    assert(got.nonEmpty)
    // the top collocation must beat independence (lift > 1000‰)
    assert(got.head._4 > 1000L, s"no true collocation found: ${got.head}")
  }

  test("q133 packing balance: conservation + the longest-first round-robin bound") {
    val rows = ClassifierQueries.packingBalance(spark, sf0001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4)))
    graft.util.CacheBag.release()
    assert(rows.length === ClassifierQueries.PackBins)
    val toks = spark.read.parquet(s"$sf0001/documents.parquet")
      .select(size(split(col("text"), " ")).cast("long")).collect().map(_.getLong(0))
    // conservation across bins
    assert(rows.map(_._2).sum === toks.length.toLong)
    assert(rows.map(_._3).sum === toks.sum)
    // longest-first round-robin balance guarantee: the cross-bin spread
    // never exceeds the single largest document (telescoping bound)
    val (mx, mn) = (rows.map(_._3).max, rows.map(_._3).min)
    assert(mx - mn <= toks.max, s"spread ${mx - mn} exceeds the largest doc ${toks.max}")
    // spread_pm is consistent and constant across rows
    assert(rows.map(_._5).distinct.length === 1)
    assert(rows.head._5 === (mx - mn) * 1000 / mx)
  }
}
