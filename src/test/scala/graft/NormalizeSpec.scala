package graft

import java.text.Normalizer

import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.Normalize
import graft.functions.expressions.UnicodeNormalize

/** Semantics of the native Unicode-normalization expression: NFC on the
  * planted classes (the q174 transform), NFKC's compatibility folds
  * (oracle-reached via the q184 dump-and-replay codebook, whose
  * ABSOLUTE values are hand-pinned here — DuckDB has no NFKC),
  * the identity fast paths, and codegen/interpreted agreement. */
class NormalizeSpec extends SparkSpec {
  import spark.implicits._

  private def nfc(ss: String*): Seq[String] =
    ss.toSeq.toDF("s")
      .select(Normalize.unicodeNormalize(col("s"), "NFC").as("n"))
      .collect().map(_.getString(0)).toSeq

  test("NFC composes decomposed sequences and passes precomposed through") {
    val got = nfc(
      "cafe\u0301", // e + COMBINING ACUTE -> é
      "A\u030angstro\u0308m", // ring + diaeresis compose
      "caf\u00e9", // already precomposed: unchanged
      "plain ascii text.")
    assert(got == Seq("caf\u00e9", "\u00c5ngstr\u00f6m", "caf\u00e9",
      "plain ascii text."), got.map(_.codePoints().toArray.toSeq))
  }

  test("NFKC additionally folds compatibility forms; NFC leaves them alone") {
    val lig = "\ufb01le \uff21 x\u00b2" // fi-ligature, fullwidth A, superscript 2
    val Seq(kc) = Seq(lig).toDF("s")
      .select(Normalize.unicodeNormalize(col("s"), "NFKC").as("n"))
      .collect().map(_.getString(0)).toSeq
    assert(kc == "file A x2", kc)
    assert(nfc(lig) == Seq(lig)) // canonical form keeps compatibility chars
  }

  test("identity fast paths return the input OBJECT: ASCII and already-NFC") {
    val ascii = UTF8String.fromString("nothing to do here")
    assert(UnicodeNormalize.normalize(ascii, Normalizer.Form.NFC) eq ascii)
    val nfcAlready = UTF8String.fromString("caf\u00e9")
    assert(UnicodeNormalize.normalize(nfcAlready, Normalizer.Form.NFC) eq nfcAlready)
    val changes = UTF8String.fromString("cafe\u0301")
    assert(UnicodeNormalize.normalize(changes, Normalizer.Form.NFC) ne changes)
  }

  test("codegen path == interpreted eval == java.text.Normalizer, nulls pass through") {
    val cases = Seq("cafe\u0301", "A\u030angstro\u0308m", "man\u0303ana",
      "\u00e9clair", "", "ascii only", "\ufb01 mixed caf\u00e9 e\u0301")
    // DataFrame run exercises whole-stage codegen (doGenCode)
    val viaCodegen = cases.toDF("s")
      .select(Normalize.unicodeNormalize(col("s"), "NFC").as("n"))
      .collect().map(_.getString(0)).toSeq
    // direct eval exercises the interpreted path
    val viaEval = cases.map(s => UnicodeNormalize.normalize(
      UTF8String.fromString(s), Normalizer.Form.NFC).toString)
    val reference = cases.map(Normalizer.normalize(_, Normalizer.Form.NFC))
    assert(viaCodegen == viaEval && viaEval == reference,
      (viaCodegen, viaEval, reference).toString)
    val nulls = Seq[Option[String]](None, Some("e\u0301"))
      .toDF("s").select(Normalize.unicodeNormalize(col("s")).as("n"))
      .collect().map(r => Option(r.getString(0))).toSeq
    assert(nulls == Seq(None, Some("\u00e9")), nulls)
  }

  test("the q184 NFKC variant codebook matches hand-written expectations") {
    // the dump-and-replay oracle proves distributed application ==
    // codebook; THIS pin is the codebook's absolute truth (Unicode 15
    // compatibility decompositions + canonical composition)
    val got = Normalize.auxDefs("aux_nfkc_variants")(spark, "")
      .collect().map(r => r.getInt(0) -> r.getString(2)).toMap
    assert(got == Map(
      0 -> " finance No",     // fi-ligature unfolds; numero -> "No"
      1 -> " Full",           // fullwidth letters fold
      2 -> " x21⁄2",     // superscript 2 -> 2; half -> 1<fraction slash>2
      3 -> " N1",             // double-struck N -> N; circled one -> 1
      4 -> " café")      // combining acute composes to precomposed
      , got.toString)
    // and the composition-safety property the oracle replay relies on:
    // NFKC over the concatenated fixture == concatenation of the
    // dumped per-variant NFKCs (space-led variants, no cross-boundary
    // composition)
    val allRaw = graft.functions.Normalize.NFKC_VARIANTS.map(_._2).mkString
    val allNfkc = (0 to 4).map(got).mkString
    assert(Normalizer.normalize(allRaw, Normalizer.Form.NFKC) == allNfkc)
  }

  test("unknown form and non-string input are rejected") {
    intercept[IllegalArgumentException] {
      Seq("x").toDF("s")
        .select(Normalize.unicodeNormalize(col("s"), "NFX")).collect()
    }
    val err = intercept[Exception] {
      Seq(1).toDF("i")
        .select(Normalize.unicodeNormalize(col("i"), "NFC")).collect()
    }
    assert(err.getMessage.toLowerCase.contains("string"), err.getMessage)
  }
}

class SortedIntersectSizeSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._
  import graft.functions.expressions.SortedIntersectSize.sortedIntersectSize

  test("sorted merge == size(array_intersect) on randomized sorted arrays with duplicates") {
    val rnd = new scala.util.Random(42)
    val vocab = Vector("", "a", "ab", "abc", "b", "ba", "z", "zz", "é", "中文")
    val rows = (1 to 400).map { _ =>
      def arr() = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      (arr(), arr())
    }
    // sort with Spark's OWN array_sort — the ordering the contract names
    val df = rows.toDF("a0", "b0")
      .select(array_sort(col("a0")).as("a"), array_sort(col("b0")).as("b"))
      .select(sortedIntersectSize(col("a"), col("b")).as("got"),
        size(array_intersect(col("a"), col("b"))).as("want"))
    assert(df.filter(col("got") =!= col("want")).count() === 0)
    // and at least some rows intersect non-trivially
    assert(df.filter(col("got") > 0).count() > 0)
  }

  test("interpreted eval matches codegen path") {
    // force interpreted evaluation through the expression's nullSafeEval
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def ad(xs: String*) = new GenericArrayData(xs.map(UTF8String.fromString).toArray[Any])
    val m = SortedIntersectSizeSpec.eval(org.apache.spark.sql.types.StringType) _
    assert(m(ad(), ad()) === 0)
    assert(m(ad("a", "a", "b"), ad("a", "b", "b", "c")) === 2)
    assert(m(ad("a", "b", "c"), ad("d", "e")) === 0)
    assert(m(ad("x"), ad("x")) === 1)
  }

  test("null elements: one shared null counts once, sorted last") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    def adn(xs: Option[String]*) = new GenericArrayData(
      xs.map(_.map(UTF8String.fromString).orNull).toArray[Any])
    val m = SortedIntersectSizeSpec.eval(org.apache.spark.sql.types.StringType) _
    assert(m(adn(Some("a"), None), adn(Some("a"), None)) === 2)
    assert(m(adn(Some("a"), None), adn(Some("b"), None)) === 1)
    assert(m(adn(None), adn(Some("a"))) === 0)
  }
}

object SortedIntersectSizeSpec {
  import org.apache.spark.sql.catalyst.expressions.Literal
  import org.apache.spark.sql.catalyst.util.ArrayData
  import org.apache.spark.sql.types.{ArrayType, DataType}

  /** The one expression's interpreted eval over two `elem` arrays. */
  def eval(elem: DataType)(a: ArrayData, b: ArrayData): Int =
    graft.functions.expressions.SortedIntersectSize(
      Literal(a, ArrayType(elem)), Literal(b, ArrayType(elem)))
      .eval().asInstanceOf[Int]
}

class SortedLongIntersectSizeSpec extends SparkSpec {
  import org.apache.spark.sql.functions._
  import spark.implicits._
  import graft.functions.expressions.SortedIntersectSize.sortedIntersectSize

  test("sorted merge == size(array_intersect) on randomized sorted long arrays with duplicates") {
    val rnd = new scala.util.Random(43)
    // small value domain forces collisions and duplicate runs; include
    // negatives and the extremes the triangle ids can carry
    val vocab = Vector(-5L, -1L, 0L, 1L, 2L, 3L, 7L, 1L << 31, Long.MaxValue)
    val rows = (1 to 400).map { _ =>
      def arr() = Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size)))
      (arr(), arr())
    }
    // sort with Spark's OWN array_sort — the ordering the contract names
    val df = rows.toDF("a0", "b0")
      .select(array_sort(col("a0")).as("a"), array_sort(col("b0")).as("b"))
      .select(sortedIntersectSize(col("a"), col("b")).as("got"),
        size(array_intersect(col("a"), col("b"))).as("want"))
    assert(df.filter(col("got") =!= col("want")).count() === 0)
    assert(df.filter(col("got") > 0).count() > 0)
  }

  test("interpreted eval matches codegen path") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def ad(xs: Long*) = new GenericArrayData(xs.map(Long.box).toArray[Any])
    val m = SortedIntersectSizeSpec.eval(org.apache.spark.sql.types.LongType) _
    assert(m(ad(), ad()) === 0)
    assert(m(ad(1L, 1L, 2L), ad(1L, 2L, 2L, 3L)) === 2)
    assert(m(ad(1L, 2L, 3L), ad(4L, 5L)) === 0)
    assert(m(ad(7L), ad(7L)) === 1)
    assert(m(ad(-3L, -1L, 0L), ad(-1L, 0L, 9L)) === 2)
  }

  test("null elements: one shared null counts once, sorted last") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    def adn(xs: Option[Long]*) = new GenericArrayData(
      xs.map(_.map(Long.box).orNull).toArray[Any])
    val m = SortedIntersectSizeSpec.eval(org.apache.spark.sql.types.LongType) _
    assert(m(adn(Some(1L), None), adn(Some(1L), None)) === 2)
    assert(m(adn(Some(1L), None), adn(Some(2L), None)) === 1)
    assert(m(adn(None), adn(Some(1L))) === 0)
  }

  test("mixed element types are rejected at analysis") {
    val err = intercept[Exception] {
      Seq((Seq(1L), Seq("a"))).toDF("a", "b")
        .select(sortedIntersectSize(col("a"), col("b"))).collect()
    }
    assert(err.getMessage.contains("sorted_intersect_size"), err.getMessage)
  }

  /** The generated code of every whole-stage codegen span of `df`'s
    * executed plan, and whether a node outside every span evaluates the
    * kernel. */
  private def kernelPlacement(df: org.apache.spark.sql.DataFrame): (Seq[String], Boolean) = {
    import org.apache.spark.sql.execution.{InputAdapter, SparkPlan, WholeStageCodegenExec}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import graft.functions.expressions.SortedIntersectSize
    df.collect() // execute this exact plan so AQE finalizes it
    val helper = new AdaptiveSparkPlanHelper {}
    val plan = df.queryExecution.executedPlan
    def kernel(p: SparkPlan) =
      p.expressions.exists(_.exists(_.isInstanceOf[SortedIntersectSize]))
    val spans = helper.collect(plan) { case w: WholeStageCodegenExec => w }
    def fused(p: SparkPlan): Seq[SparkPlan] = p match {
      case _: InputAdapter => Nil
      case _ => p +: p.children.flatMap(fused)
    }
    val inSpans = spans.flatMap(w => fused(w.child)).toSet
    val outside = helper.collect(plan) { case p if kernel(p) => p }.exists(!inSpans(_))
    (spans.filter(w => fused(w.child).exists(kernel)).map(_.doCodeGen()._2.body), outside)
  }

  test("q65's verify and q120's closing call the typed merge inside whole-stage codegen") {
    val (q65, q65Outside) = kernelPlacement(
      SparkEntry.queries("q65_jaccard_prefix")(spark, SF))
    assert(!q65Outside && q65.exists(_.contains("SortedIntersectSize.mergeStrings(")),
      "q65's verify kernel left whole-stage codegen")
    // the closing frame runs while q120's frame is built: take it from
    // the probe and run it inside the operator's lease
    var q120: (Seq[String], Boolean) = null
    graft.PlanProbe.withSink { (label, df) =>
      if (label == "triangles.closing") q120 = kernelPlacement(df)
    }(SparkEntry.queries("q120_triangles")(spark, SF))
    assert(q120 != null, "q120 emitted no closing frame")
    assert(!q120._2 && q120._1.exists(_.contains("SortedIntersectSize.mergeLongs(")),
      "q120's closing kernel left whole-stage codegen")
  }
}
