package graft.functions

import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.functions.call_function
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.core.{CellIndex, Extract, Geo}

/** Catalyst expressions for the cell index / geometry / extraction core
  * (SURVEY.md §2.C + B3). Expressions on big-side hot paths carry real
  * `doGenCode` (L2DistExpr, BandSigExpr, ShingleHashesExpr, and — per
  * verdict r3 #8 — the user-facing join-path pair CellIdExpr /
  * CellCoverExpr); the rest stay `CodegenFallback` leaf calls, where the
  * per-row work (JTS predicates, array building) dominates the one
  * virtual eval and hand codegen would buy nothing measurable.
  */
object expressions {

  abstract class GraftUnary extends UnaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def nullable: Boolean = true
  }

  /** Malformed WKT yields NULL instead of killing the job — on 10^12 rows
    * one corrupt footprint must degrade, not abort. Only GEOMETRY failures
    * map to null; caller bugs (e.g. an out-of-range level, which is a
    * plan-time constant) stay fatal so a typo can't silently empty a join. */
  @inline private def nullOnBadGeometry[T](body: => T): Any =
    try body.asInstanceOf[Any] catch {
      case _: org.locationtech.jts.io.ParseException => null
      case _: org.locationtech.jts.geom.TopologyException => null
      case e: RuntimeException if e.getCause.isInstanceOf[org.locationtech.jts.io.ParseException] => null
    }

  /** cell_id(ilat int, ilon int, level int) -> long. Real `doGenCode`
    * (verdict r3 #8): cell_id sits on user-facing join paths, so at
    * 10^12 rows the CodegenFallback boxed `eval` per row is the one
    * virtual call worth removing — the generated code is a direct static
    * call to the Morton encoder, which the JIT inlines. */
  case class CellIdExpr(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(IntegerType, IntegerType, IntegerType)
    override def dataType: DataType = LongType
    override def prettyName: String = "cell_id"
    override protected def nullSafeEval(a: Any, o: Any, l: Any): Any =
      CellIndex.encode(a.asInstanceOf[Int], o.asInstanceOf[Int], l.asInstanceOf[Int])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (a, o, l) => s"graft.core.CellIndex.encode($a, $o, $l)")
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  /** cell_parent(cell long, level int) -> long */
  case class CellParentExpr(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
    override def dataType: DataType = LongType
    override def prettyName: String = "cell_parent"
    override protected def nullSafeEval(c: Any, p: Any): Any =
      CellIndex.parent(c.asInstanceOf[Long], p.asInstanceOf[Int])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (c, p) => s"graft.core.CellIndex.parent($c, $p)")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** cell_level(cell long) -> int */
  case class CellLevelExpr(child: Expression) extends GraftUnary {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = IntegerType
    override def prettyName: String = "cell_level"
    override protected def nullSafeEval(c: Any): Any = CellIndex.level(c.asInstanceOf[Long])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** cell_rowmajor(cell long) -> long — SQL-mirrorable surrogate cy*2^L+cx */
  case class CellRowMajorExpr(child: Expression) extends GraftUnary {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = LongType
    override def prettyName: String = "cell_rowmajor"
    override protected def nullSafeEval(c: Any): Any = CellIndex.rowMajor(c.asInstanceOf[Long])
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** cell_children(cell long) -> array<long> */
  case class CellChildrenExpr(child: Expression) extends GraftUnary {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_children"
    override protected def nullSafeEval(c: Any): Any =
      new GenericArrayData(CellIndex.children(c.asInstanceOf[Long]))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** cell_kring(cell long, k int) -> array<long>. Codegen'd — sits on the
    * kNN ring-expansion hot path (q07/q42/q67), where every probe row
    * builds a ring array. */
  case class CellKRingExpr(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_kring"
    override protected def nullSafeEval(c: Any, k: Any): Any =
      new GenericArrayData(CellIndex.kring(c.asInstanceOf[Long], k.asInstanceOf[Int]))
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (c, k) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.CellIndex.kring($c, $k))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** cell_ring_shell(cell long, k int) -> array<long> (exactly-distance-k
    * shell; codegen'd like kring — the phase-2 kNN expansion path). */
  case class CellRingShellExpr(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(LongType, IntegerType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_ring_shell"
    override protected def nullSafeEval(c: Any, k: Any): Any =
      new GenericArrayData(CellIndex.ringShell(c.asInstanceOf[Long], k.asInstanceOf[Int]))
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, (c, k) =>
        s"new org.apache.spark.sql.catalyst.util.GenericArrayData(graft.core.CellIndex.ringShell($c, $k))")
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** cell_cover(wkt string, level int) -> array<long>. Real `doGenCode`
    * (verdict r3 #8, the other user-facing join-path expression): one
    * static kernel call ([[GraftKernels.coverOrNull]]) instead of the
    * fallback's boxed eval; malformed-WKT-degrades-to-null is preserved
    * by the kernel returning Java null. */
  case class CellCoverExpr(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
    override def nullable: Boolean = true // null on malformed WKT
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "cell_cover"
    override protected def nullSafeEval(w: Any, l: Any): Any =
      GraftKernels.coverOrNull(w.asInstanceOf[UTF8String], l.asInstanceOf[Int])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (w, l) => {
        val tmp = ctx.freshName("cover")
        s"""
           |org.apache.spark.sql.catalyst.util.ArrayData $tmp =
           |  graft.functions.GraftKernels.coverOrNull($w, $l);
           |if ($tmp == null) { ${ev.isNull} = true; } else { ${ev.value} = $tmp; }
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** cell_cover_frac(wkt string, level int) -> array<struct<cell:long, frac:double>> */
  case class CellCoverFracExpr(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType)
    override def nullable: Boolean = true // null on malformed WKT
    override def dataType: DataType = ArrayType(
      StructType(Seq(StructField("cell", LongType, false), StructField("frac", DoubleType, false))),
      containsNull = false)
    override def prettyName: String = "cell_cover_frac"
    override protected def nullSafeEval(w: Any, l: Any): Any = nullOnBadGeometry {
      val pairs = Geo.coverWithFrac(w.asInstanceOf[UTF8String].toString, l.asInstanceOf[Int])
      new GenericArrayData(pairs.map { case (c, f) => InternalRow(c, f) })
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** cell_boundary(cell long) -> struct<ilat0,ilon0,ilat1,ilon1:int> */
  case class CellBoundaryExpr(child: Expression) extends GraftUnary {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = StructType(Seq(
      StructField("ilat0", IntegerType, false), StructField("ilon0", IntegerType, false),
      StructField("ilat1", IntegerType, false), StructField("ilon1", IntegerType, false)))
    override def prettyName: String = "cell_boundary"
    override protected def nullSafeEval(c: Any): Any = {
      val (a0, o0, a1, o1) = CellIndex.boundary(c.asInstanceOf[Long])
      InternalRow(a0, o0, a1, o1)
    }
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** cell_wkt(cell long) -> string */
  case class CellBoundaryWktExpr(child: Expression) extends GraftUnary {
    override def inputTypes: Seq[DataType] = Seq(LongType)
    override def dataType: DataType = StringType
    override def prettyName: String = "cell_wkt"
    override protected def nullSafeEval(c: Any): Any =
      UTF8String.fromString(CellIndex.boundaryWkt(c.asInstanceOf[Long]))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** coverage_frac(cell long, wkt string) -> double */
  case class CoverageFracExpr(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(LongType, StringType)
    override def nullable: Boolean = true // null on malformed WKT
    override def dataType: DataType = DoubleType
    override def prettyName: String = "coverage_frac"
    override protected def nullSafeEval(c: Any, w: Any): Any = nullOnBadGeometry {
      Geo.coverageFrac(c.asInstanceOf[Long], w.asInstanceOf[UTF8String].toString)
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** contains_point(wkt string, ilat int, ilon int) -> boolean */
  case class ContainsPointExpr(first: Expression, second: Expression, third: Expression)
      extends TernaryExpression with ImplicitCastInputTypes with CodegenFallback {
    override def inputTypes: Seq[DataType] = Seq(StringType, IntegerType, IntegerType)
    override def nullable: Boolean = true // null on malformed WKT
    override def dataType: DataType = BooleanType
    override def prettyName: String = "contains_point"
    override protected def nullSafeEval(w: Any, a: Any, o: Any): Any = nullOnBadGeometry {
      Geo.containsPoint(w.asInstanceOf[UTF8String].toString, a.asInstanceOf[Int], o.asInstanceOf[Int])
    }
    override protected def withNewChildrenInternal(f: Expression, s: Expression, t: Expression): Expression =
      copy(first = f, second = s, third = t)
  }

  /** l2_dist(a array<long>, b array<long>) -> long — squared L2 distance
    * with REAL whole-stage codegen (`doGenCode` emits a tight primitive
    * loop). The zip_with/aggregate lambda chain it replaces is interpreted
    * — ~64 boxed higher-order evals per pair, the dominant cost of every
    * ANN / embedding-near-dup operator once candidate counts grow. This is
    * the one custom expression that DOES sit on a big side (vector pairs),
    * so it is the one that earns hand-written codegen (SURVEY.md §4). */
  case class L2DistExpr(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(LongType))
    override def dataType: DataType = LongType
    override def prettyName: String = "l2_dist"
    override protected def nullSafeEval(a: Any, b: Any): Any = {
      val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val y = b.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val n = math.min(x.numElements(), y.numElements())
      var s = 0L
      var i = 0
      while (i < n) { val d = x.getLong(i) - y.getLong(i); s += d * d; i += 1 }
      s
    }
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (x, y) => {
        val i = ctx.freshName("i")
        val n = ctx.freshName("n")
        val s = ctx.freshName("s")
        val d = ctx.freshName("d")
        s"""
           |int $n = java.lang.Math.min($x.numElements(), $y.numElements());
           |long $s = 0L;
           |for (int $i = 0; $i < $n; $i++) {
           |  long $d = $x.getLong($i) - $y.getLong($i);
           |  $s += $d * $d;
           |}
           |${ev.value} = $s;
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** band_signatures(vec array<long>, layout array<int>) -> array<long>:
    * the banded-LSH bit signatures, fully packed inside one expression.
    * `layout` = [numTables, bandPlanes, refinePlanes] (foldable). Output:
    * 2*numTables longs — [band_0..band_{T-1}, sub_0..sub_{T-1}] where
    * band_t packs the sign bits of the band-plane dots (plane index
    * 100 + t*bandPlanes + i) and sub_t the refine-plane dots (index
    * 1000 + t*refinePlanes + i), with the deterministic coefficient family
    * coeff(pos, b) = ((pos*73 + b*151 + pos*b*37) % 97) - 48. Folding the sign/packing into the expression keeps the
    * downstream projection to 2T element_at's — the 80-element_at
    * when-chain this replaces dominated cold-JIT time. */
  case class BandSigExpr(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(ArrayType(LongType), ArrayType(IntegerType))
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "band_signatures"
    @inline private def dot(x: org.apache.spark.sql.catalyst.util.ArrayData, b: Long): Long = {
      val n = x.numElements()
      var s = 0L
      var i = 0
      while (i < n) {
        s += x.getLong(i) * ((i * 73L + b * 151L + i * b * 37L) % 97L - 48L)
        i += 1
      }
      s
    }
    override protected def nullSafeEval(a: Any, l: Any): Any = {
      val x = a.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val lay = l.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      val (nt, bp, rp) = (lay.getInt(0), lay.getInt(1), lay.getInt(2))
      val out = new Array[Long](2 * nt)
      var t = 0
      while (t < nt) {
        var band = 0L
        var i = 0
        while (i < bp) {
          if (dot(x, 100L + t * bp + i) >= 0) band |= 1L << i
          i += 1
        }
        var sub = 0L
        i = 0
        while (i < rp) {
          if (dot(x, 1000L + t * rp + i) >= 0) sub |= 1L << i
          i += 1
        }
        out(t) = band
        out(nt + t) = sub
        t += 1
      }
      new org.apache.spark.sql.catalyst.util.GenericArrayData(out)
    }
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      nullSafeCodeGen(ctx, ev, (x, lay) => {
        val f = Seq("nt", "bp", "rp", "out", "t", "i", "j", "s", "b", "band", "sub", "n")
          .map(ctx.freshName).toArray
        val Array(nt, bp, rp, out, t, i, j, s, b, band, sub, n) = f
        s"""
           |int $nt = $lay.getInt(0); int $bp = $lay.getInt(1); int $rp = $lay.getInt(2);
           |int $n = $x.numElements();
           |long[] $out = new long[2 * $nt];
           |for (int $t = 0; $t < $nt; $t++) {
           |  long $band = 0L;
           |  for (int $i = 0; $i < $bp; $i++) {
           |    long $b = 100L + (long) $t * $bp + $i;
           |    long $s = 0L;
           |    for (int $j = 0; $j < $n; $j++)
           |      $s += $x.getLong($j) * (($j * 73L + $b * 151L + $j * $b * 37L) % 97L - 48L);
           |    if ($s >= 0) $band |= 1L << $i;
           |  }
           |  long $sub = 0L;
           |  for (int $i = 0; $i < $rp; $i++) {
           |    long $b = 1000L + (long) $t * $rp + $i;
           |    long $s = 0L;
           |    for (int $j = 0; $j < $n; $j++)
           |      $s += $x.getLong($j) * (($j * 73L + $b * 151L + $j * $b * 37L) % 97L - 48L);
           |    if ($s >= 0) $sub |= 1L << $i;
           |  }
           |  $out[$t] = $band;
           |  $out[$nt + $t] = $sub;
           |}
           |${ev.value} = new org.apache.spark.sql.catalyst.util.GenericArrayData($out);
         """.stripMargin
      })
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** shingle_hashes(text) -> array<long>: the 60-bit md5-prefix hash of
    * every 3-gram shingle of the space-split tokens — EXACTLY
    * `conv(substring(md5(concat_ws(' ', slice(toks, j+1, 3))), 1, 15), 16, 10)`
    * per position, the portable token-hash family every dedup operator
    * shares with the DuckDB oracle. One JVM kernel call per DOCUMENT
    * replaces the per-shingle md5→hex-string→conv Column chain (hex
    * string allocation per shingle was the measured cost driver of the
    * MinHash family at scale). Docs with fewer than 3 tokens yield an
    * empty array (a filter on the token count, size(split(text, ' '))
    * >= 3, selects the same documents without a kernel call). */
  case class ShingleHashesExpr(child: Expression) extends GraftUnary {
    override def inputTypes: Seq[DataType] = Seq(StringType)
    override def dataType: DataType = ArrayType(LongType, containsNull = false)
    override def prettyName: String = "shingle_hashes"
    override protected def nullSafeEval(t: Any): Any =
      GraftKernels.shingleHashes(t.asInstanceOf[UTF8String])
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode =
      defineCodeGen(ctx, ev, t => s"graft.functions.GraftKernels.shingleHashes($t)")
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }

  /** bpe_subtokens(word string, merges string) -> int: subtoken count
    * after greedily replaying a trained BPE merge list on `word` —
    * executor-side and vocabulary-free, so words the trainer never saw
    * encode too (chained string `replace` is NOT equivalent: a match
    * consumes its trailing boundary, skipping pairs in same-symbol runs).
    * `merges` is a FOLDABLE literal — (l, r) pairs joined by U+0002 within
    * and U+0003 between (separators no token can contain) — parsed once
    * per expression instance, not per row. */
  case class BpeSubtokensExpr(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] = Seq(StringType, StringType)
    override def dataType: DataType = IntegerType
    override def prettyName: String = "bpe_subtokens"
    @transient private lazy val merges: Seq[(String, String)] = {
      val spec = right.eval(null).asInstanceOf[UTF8String].toString
      if (spec.isEmpty) Nil
      else spec.split('\u0003').toSeq.map { m =>
        val i = m.indexOf('\u0002')
        (m.substring(0, i), m.substring(i + 1))
      }
    }
    override protected def nullSafeEval(w: Any, m: Any): Any =
      GraftKernels.bpeSubtokenCount(w.asInstanceOf[UTF8String], merges)
    // Real codegen (ADVICE r4: this runs once per corpus TOKEN in q123 —
    // a big-side hot path): the pre-parsed merge list rides along as a
    // codegen reference object and the generated code is one static
    // kernel call, keeping the enclosing whole-stage span alive.
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("bpeMerges", merges, "scala.collection.immutable.Seq")
      nullSafeCodeGen(ctx, ev, (w, _) =>
        s"${ev.value} = graft.functions.GraftKernels.bpeSubtokenCount($w, $ref);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** argmin_l2(qv array<long>, cents array<array<long>>) -> int: 0-based
    * index of the centroid minimizing squared L2 distance to `qv`; FIRST
    * index wins ties, which with a cid-ascending matrix reproduces the
    * (cd, cid) argmin tiebreak of the ANN family bit-for-bit. `cents` is
    * a FOLDABLE literal (sqrt(n) centroids — metadata-sized by design),
    * flattened ONCE per expression instance into a long[][] codegen
    * reference object; the generated code is one static kernel call per
    * row, so the r6 zero-shuffle list-assignment projection (which
    * replaces the broadcast-crossJoin + corpus-wide groupBy(vec_id)
    * argmin of r5) stays inside the whole-stage span. */
  case class ArgminL2Expr(left: Expression, right: Expression)
      extends BinaryExpression with ImplicitCastInputTypes {
    override def inputTypes: Seq[DataType] =
      Seq(ArrayType(LongType), ArrayType(ArrayType(LongType)))
    override def dataType: DataType = IntegerType
    override def prettyName: String = "argmin_l2"
    @transient private lazy val mat: Array[Array[Long]] = {
      // the matrix is read ONCE at planning; a non-foldable child would be
      // silently frozen to its planning-time value — refuse it loudly
      require(right.foldable, "argmin_l2 centroid matrix must be a foldable literal")
      val d = right.eval(null).asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData]
      Array.tabulate(d.numElements())(i => d.getArray(i).toLongArray())
    }
    override protected def nullSafeEval(x: Any, c: Any): Any =
      GraftKernels.argminL2(
        x.asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData], mat)
    override protected def doGenCode(
        ctx: org.apache.spark.sql.catalyst.expressions.codegen.CodegenContext,
        ev: org.apache.spark.sql.catalyst.expressions.codegen.ExprCode)
        : org.apache.spark.sql.catalyst.expressions.codegen.ExprCode = {
      val ref = ctx.addReferenceObj("centMat", mat, "long[][]")
      nullSafeCodeGen(ctx, ev, (x, _) =>
        s"${ev.value} = graft.functions.GraftKernels.argminL2($x, $ref);")
    }
    override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
      copy(left = l, right = r)
  }

  /** extract_text(html binary) -> string — the byte-identical invariant fn */
  case class ExtractTextExpr(child: Expression) extends GraftUnary {
    override def inputTypes: Seq[DataType] = Seq(BinaryType)
    override def dataType: DataType = StringType
    override def prettyName: String = "extract_text"
    override protected def nullSafeEval(h: Any): Any =
      UTF8String.fromString(Extract.extractText(h.asInstanceOf[Array[Byte]]))
    override protected def withNewChildInternal(c: Expression): Expression = copy(child = c)
  }
}

/** Session registration + Column-level API. Register once per session
  * (idempotent); the Column wrappers resolve through the function registry
  * so they need no private Column constructors. */
object GraftFunctions {
  import expressions._

  private[graft] val fns: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cell_id" -> (e => CellIdExpr(e(0), e(1), e(2))),
    "cell_parent" -> (e => CellParentExpr(e(0), e(1))),
    "cell_level" -> (e => CellLevelExpr(e(0))),
    "cell_rowmajor" -> (e => CellRowMajorExpr(e(0))),
    "cell_children" -> (e => CellChildrenExpr(e(0))),
    "cell_kring" -> (e => CellKRingExpr(e(0), e(1))),
    "cell_ring_shell" -> (e => CellRingShellExpr(e(0), e(1))),
    "cell_cover" -> (e => CellCoverExpr(e(0), e(1))),
    "cell_cover_frac" -> (e => CellCoverFracExpr(e(0), e(1))),
    "cell_boundary" -> (e => CellBoundaryExpr(e(0))),
    "cell_wkt" -> (e => CellBoundaryWktExpr(e(0))),
    "coverage_frac" -> (e => CoverageFracExpr(e(0), e(1))),
    "contains_point" -> (e => ContainsPointExpr(e(0), e(1), e(2))),
    "extract_text" -> (e => ExtractTextExpr(e(0))),
    "l2_dist" -> (e => L2DistExpr(e(0), e(1))),
    "argmin_l2" -> (e => ArgminL2Expr(e(0), e(1))),
    "band_signatures" -> (e => BandSigExpr(e(0), e(1))),
    "shingle_hashes" -> (e => ShingleHashesExpr(e(0))),
    "bpe_subtokens" -> (e => BpeSubtokensExpr(e(0), e(1))),
  )

  def register(spark: SparkSession): Unit = {
    fns.foreach { case (name, builder) =>
      spark.sessionState.functionRegistry
        .createOrReplaceTempFunction(name, builder, "built-in")
    }
    // install the optimizer rules for in-process sessions (idempotent);
    // spark-submit users get the same via spark.sql.extensions =
    // graft.plans.GraftExtensions
    if (!spark.experimental.extraOptimizations.contains(graft.plans.RowMajorOfCellIdRule))
      spark.experimental.extraOptimizations =
        spark.experimental.extraOptimizations :+ graft.plans.RowMajorOfCellIdRule
  }

  // Column API (requires register(spark) on the active session first).
  def cell_id(ilat: Column, ilon: Column, level: Column): Column =
    call_function("cell_id", ilat, ilon, level)
  def cell_parent(cell: Column, level: Column): Column = call_function("cell_parent", cell, level)
  def cell_level(cell: Column): Column = call_function("cell_level", cell)
  def cell_rowmajor(cell: Column): Column = call_function("cell_rowmajor", cell)
  def cell_children(cell: Column): Column = call_function("cell_children", cell)
  def cell_kring(cell: Column, k: Column): Column = call_function("cell_kring", cell, k)
  def cell_ring_shell(cell: Column, k: Column): Column = call_function("cell_ring_shell", cell, k)
  def cell_cover(wkt: Column, level: Column): Column = call_function("cell_cover", wkt, level)
  def cell_cover_frac(wkt: Column, level: Column): Column = call_function("cell_cover_frac", wkt, level)
  def cell_boundary(cell: Column): Column = call_function("cell_boundary", cell)
  def cell_wkt(cell: Column): Column = call_function("cell_wkt", cell)
  def coverage_frac(cell: Column, wkt: Column): Column = call_function("coverage_frac", cell, wkt)
  def contains_point(wkt: Column, ilat: Column, ilon: Column): Column =
    call_function("contains_point", wkt, ilat, ilon)
  def extract_text(html: Column): Column = call_function("extract_text", html)
  def l2_dist(a: Column, b: Column): Column = call_function("l2_dist", a, b)
  def argmin_l2(qv: Column, cents: Column): Column = call_function("argmin_l2", qv, cents)
  def band_signatures(v: Column, layout: Column): Column =
    call_function("band_signatures", v, layout)
  def shingle_hashes(text: Column): Column = call_function("shingle_hashes", text)
  def bpe_subtokens(word: Column, merges: Column): Column =
    call_function("bpe_subtokens", word, merges)

  /** Encode a merge list for [[expressions.BpeSubtokensExpr]]'s foldable
    * spec argument. */
  def bpeMergeSpec(merges: Seq[(String, String)]): String =
    merges.map { case (l, r) => l + "\u0002" + r }.mkString("\u0003")
}
