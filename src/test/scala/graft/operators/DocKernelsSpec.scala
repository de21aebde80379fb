package graft.operators

import graft.{SparkTestSession, Tables}
import graft.functions.{MinHash, PerceptronFeatures, PolyBucketCounts, PolyHash, WinnowFps, WinnowFpSpans, WordShingleHashes, WordShingles}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The round-18 whole-document kernels must be drop-in equivalent to the
  * explode → window/aggregate pipelines they replaced — the legacy
  * formulations stay HERE as the executable spec (the TextHashesSpec
  * discipline), compared row-for-row on the real sf0.001 corpus plus a
  * seeded synthetic corpus with the whitespace/short-doc edge cases.
  */
class DocKernelsSpec extends AnyFunSuite with SparkTestSession {

  private val dir = "/root/testdata/sf0.001"

  private def synthetic: DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(1318)
    val words = Seq("the", "and", "of", "a", "xy", "zq", "", "Word", "w0rd",
      "lowercaseonly", "ab")
    (1L to 400L).map { id =>
      val text = rnd.nextInt(7) match {
        case 0 => ""
        case 1 => words(rnd.nextInt(words.size))
        case 2 => Seq.fill(1 + rnd.nextInt(3))(
          words(rnd.nextInt(words.size))).mkString(" ")
        case 3 => " " + Seq.fill(4)(words(rnd.nextInt(words.size)))
          .mkString(" ") + "  "
        case _ => Seq.fill(2 + rnd.nextInt(30))(
          words(rnd.nextInt(words.size))).mkString(" ")
      }
      (id, if (id % 2 == 0) "srcA" else "src1", text)
    }.toDF("doc_id", "source", "text")
  }

  private def docsOf(d: DataFrame): DataFrame =
    d.select(col("doc_id"), col("source"), col("text"))

  private def corpora: Seq[DataFrame] = Seq(
    docsOf(Tables.load(spark, dir, "documents")), synthetic)

  private def assertSameRows(a: DataFrame, b: DataFrame, what: String): Unit = {
    val extraA = a.exceptAll(b).count()
    val extraB = b.exceptAll(a).count()
    assert(extraA == 0 && extraB == 0,
      s"$what differs: $extraA rows only in new, $extraB only in legacy")
  }

  // ---- legacy formulations (pre-r18), verbatim from the operators ----

  private def legacyBpeTokenArr(
      merges: Seq[(Long, String, String, Long)], w: Column): Column = {
    val merged = merges.foldLeft(regexp_replace(w, "([a-z])", "[$1]")) {
      case (c, (_, l, r, _)) => replace(c, lit(s"[$l][$r]"), lit(s"[$l$r]"))
    }
    when(w.rlike("^[a-z]+$"),
      split(merged.substr(lit(2), length(merged) - 2), "\\]\\["))
      .otherwise(array(lit("<unk>")))
  }

  private def legacyTokenize(docs: DataFrame,
      merges: Seq[(Long, String, String, Long)]): DataFrame = {
    val wDoc = org.apache.spark.sql.expressions.Window
      .partitionBy(col("source"), col("doc_id"))
      .orderBy(col("wpos"), col("spos"))
    docs.select(col("source"), col("doc_id"),
        posexplode(split(col("text"), " ")).as(Seq("wpos", "w")))
      .select(col("source"), col("doc_id"), col("wpos"),
        posexplode(legacyBpeTokenArr(merges, col("w"))).as(Seq("spos", "tok")))
      .withColumn("tok_idx", row_number().over(wDoc).cast("long") - 1L)
      .select(col("source"), col("doc_id"), col("tok"), col("tok_idx"))
  }

  private val WinnowK = 3
  private val WinnowW = 4
  private val WinnowPosPack = 2097152L

  private def legacyWinnowSelected(docs: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wFwd = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.currentRow, WinnowW - 1)
    docs
      .select(col("doc_id"), WordShingles(col("text"), WinnowK).as("gs"))
      .select(col("doc_id"), size(col("gs")).as("ng"), posexplode(col("gs")))
      .select(col("doc_id"), col("ng"), col("pos"),
        (PolyHash(col("col")) * lit(WinnowPosPack) + col("pos")).as("key"))
      .withColumn("mk", min(col("key")).over(wFwd))
      .filter(col("pos") <= greatest(col("ng") - WinnowW, lit(0)))
      .select(col("doc_id"), col("mk"))
      .distinct()
  }

  private def legacyWinnowFingerprints(docs: DataFrame): DataFrame =
    legacyWinnowSelected(docs)
      .select(col("doc_id"), expr(s"mk div $WinnowPosPack").as("fp"))
      .distinct()

  private def legacyWinnowSpans(docs: DataFrame): DataFrame =
    legacyWinnowSelected(docs)
      .select(col("doc_id"), expr(s"mk div $WinnowPosPack").as("fp"),
        expr(s"mk % $WinnowPosPack").as("p"))
      .groupBy(col("doc_id"), col("fp"))
      .agg(min(col("p")).as("mn"), max(col("p")).as("mx"))

  // ---- BPE ----

  test("tokenize ≡ legacy explode + merge chain + row_number window") {
    val merges = Corpus.ensureBpeMerges(spark, dir)
    corpora.foreach { docs =>
      assertSameRows(Corpus.tokenize(docs, merges),
        legacyTokenize(docs, merges), "tokenize")
    }
  }

  test("tokenize ≡ legacy under a synthetic multi-char merge chain") {
    // exercises merged-token recursion (th+e → the) and l == r merges
    val merges = Seq(
      (1L, "t", "h", 0L), (2L, "th", "e", 0L), (3L, "a", "a", 0L),
      (4L, "o", "o", 0L), (5L, "w", "oo", 0L), (6L, "e", "t", 0L))
    corpora.foreach { docs =>
      assertSameRows(Corpus.tokenize(docs, merges),
        legacyTokenize(docs, merges), "tokenize-synthetic-merges")
    }
  }

  // ---- winnowing ----

  test("winnowFingerprints ≡ legacy window+distinct pipeline") {
    corpora.foreach { docs =>
      assertSameRows(Dedup.winnowFingerprints(docs),
        legacyWinnowFingerprints(docs), "winnowFingerprints")
    }
  }

  test("winnowFingerprintSpans ≡ legacy window+groupBy pipeline") {
    corpora.foreach { docs =>
      assertSameRows(Dedup.winnowFingerprintSpans(docs),
        legacyWinnowSpans(docs), "winnowFingerprintSpans")
    }
  }

  // ---- importance bucket counts ----

  test("PolyBucketCounts ≡ legacy explode + filter + groupBy counts") {
    val B = 64
    corpora.foreach { docs =>
      val legacy = docs
        .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
        .filter(length(col("w")) > 0)
        .select(col("doc_id"), (PolyHash(col("w")) % B).as("b"))
        .groupBy(col("doc_id"), col("b")).agg(count(lit(1)).as("cnt"))
      val kernel = docs
        .select(col("doc_id"),
          posexplode(PolyBucketCounts(col("text"), B)).as(Seq("b", "cnt")))
        .filter(col("cnt") > 0)
        .select(col("doc_id"), col("b").cast("long").as("b"), col("cnt"))
      assertSameRows(kernel, legacy, "bucketCounts")
    }
  }

  // ---- perceptron features ----

  test("PerceptronFeatures ≡ legacy agg + sort_array + transform pipeline") {
    val d = 64
    corpora.foreach { docs =>
      val wDoc = org.apache.spark.sql.expressions.Window
        .partitionBy(col("doc_id"))
      val legacy = docs.select(col("doc_id"),
          explode(WordShingles(col("text"), 1)).as("g"))
        .union(docs.select(col("doc_id"),
          explode(WordShingles(col("text"), 2)).as("g")))
        .select(col("doc_id"), (PolyHash(col("g")) % d).as("bucket"))
        .groupBy(col("doc_id"), col("bucket"))
        .agg(count(lit(1)).as("c"))
        .withColumn("tot", sum(col("c")).over(wDoc))
        .select(col("doc_id"), col("bucket"),
          expr("(1000 * c) div tot").as("nf"))
        .groupBy(col("doc_id"))
        .agg(sort_array(collect_list(struct(col("bucket"), col("nf"))))
          .as("fs"))
        .select(col("doc_id"),
          concat(expr("transform(fs, x -> x.bucket)"),
            array(lit(d.toLong))).as("bs"),
          concat(expr("transform(fs, x -> x.nf)"),
            array(lit(100L))).as("cs"))
      val kernel = docs.select(col("doc_id"),
          PerceptronFeatures(col("text"), d).as("f"))
        .select(col("doc_id"), col("f.bs").as("bs"), col("f.cs").as("cs"))
      assertSameRows(kernel, legacy, "perceptronFeatures")
    }
  }

  // ---- repetition trim / splice ----

  test("RepeatedGramCover + SpliceByPositions ≡ legacy q206 pipeline") {
    import graft.functions.{RepeatedGramCover, SpliceByPositions}
    corpora.foreach { docs =>
      val g = docs.select(col("doc_id"),
        posexplode(WordShingles(col("text"), 3)).as(Seq("p", "gram")))
      val first = g.groupBy(col("doc_id"), col("gram"))
        .agg(min(col("p")).as("fp"))
      val rpos = g.join(first, Seq("doc_id", "gram"))
        .filter(col("p") > col("fp"))
        .select(col("doc_id"),
          explode(sequence(col("p").cast("long"),
            col("p").cast("long") + 2L)).as("wp"))
        .distinct()
        .groupBy(col("doc_id")).agg(collect_list(col("wp")).as("rpos"))
      val legacy = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
        .join(rpos, Seq("doc_id"), "left")
        .select(col("doc_id"),
          size(col("tk")).cast("long").as("n_tokens_before"),
          coalesce(size(col("rpos")), lit(0)).cast("long").as("n_removed"),
          array_join(
            filter(col("tk"), (_, i) =>
              col("rpos").isNull ||
                !array_contains(col("rpos"), i.cast("long"))),
            " ").as("clean_text"))
      val kernel = docs.select(col("doc_id"),
          SpliceByPositions(col("text"),
            RepeatedGramCover(col("text"), 3)).as("r"))
        .select(col("doc_id"),
          col("r.n_tokens_before").as("n_tokens_before"),
          col("r.n_removed").as("n_removed"),
          col("r.clean_text").as("clean_text"))
      assertSameRows(kernel, legacy, "repetitionTrim")
    }
  }

  test("spliceTokens kernel ≡ legacy interpreted filter projection") {
    import spark.implicits._
    // hand-built removal lists incl. docs with no list (left-join null
    // branch) and empty-token texts
    val docs = Seq(
      (1L, "a b c a b c d"), (2L, "x  y"), (3L, ""), (4L, "keep all"),
      (5L, "p q r s t u v w")).toDF("doc_id", "text")
    val rpos = Seq(
      (1L, Seq(3L, 4L, 5L)), (2L, Seq(1L)), (5L, Seq(0L, 7L)))
      .toDF("doc_id", "rpos")
    val legacy = docs.select(col("doc_id"), split(col("text"), " ").as("tk"))
      .join(rpos, Seq("doc_id"), "left")
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens_before"),
        coalesce(size(col("rpos")), lit(0)).cast("long").as("n_removed"),
        array_join(
          filter(col("tk"), (_, i) =>
            col("rpos").isNull ||
              !array_contains(col("rpos"), i.cast("long"))),
          " ").as("clean_text"))
    assertSameRows(Dedup.spliceTokens(docs, rpos), legacy, "spliceTokens")
  }

  // ---- set overlap ----

  test("SetOverlap ≡ size(array_intersect) / size(array_union)") {
    import spark.implicits._
    import graft.functions.SetOverlap
    val rnd = new scala.util.Random(99)
    val rows = (1 to 500).map { _ =>
      def arr() = Seq.fill(rnd.nextInt(40))(rnd.nextInt(30).toLong)
      (arr(), arr())
    } :+ ((Seq.empty[Long], Seq.empty[Long])) :+
      ((Seq(1L, 1L, 2L), Seq.empty[Long]))
    val df = rows.toDF("a", "b")
    val cmp = df.select(
        SetOverlap(col("a"), col("b")).as("o"),
        size(array_intersect(col("a"), col("b"))).cast("long").as("li"),
        size(array_union(col("a"), col("b"))).cast("long").as("lu"))
      .filter(col("o.inter") =!= col("li") || col("o.uni") =!= col("lu"))
      .count()
    assert(cmp == 0)
  }

  // ---- map-side MinHash signature frame (r19) ----

  /** Exploded (doc_id, h) rows: h = distinct PolyHash per word-3-gram.
    * [[WordShingleHashes]] tokenizes + shingles + hashes + dedups in one
    * codegen'd pass per row (the composed split/slice/zip_with/transform
    * form evaluated its lambdas interpreted).
    */
  private def shingleHashRows(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      explode(WordShingleHashes(col("text"), 3)).as("h"))

  /** One hash-aggregate producing the MinHash signature columns mh0..mh15
    * (plus optionally the full shingle-hash set for Jaccard verification).
    *
    * r19: the LEGACY aggregate formulation — production paths use the
    * map-side [[Dedup.minhashSigs]]; kept here as its reference
    * definition.
    */
  private def minhashAgg(rows: DataFrame, withSet: Boolean): DataFrame = {
    val mins = (0 until Dedup.NumHashes).map { j =>
      min((lit(MinHash.permA(j)) * col("h") + lit(MinHash.permB(j))) % Dedup.P)
        .as(s"mh$j")
    }
    val aggs = if (withSet) mins :+ collect_set(col("h")).as("H") else mins
    rows.groupBy(col("doc_id")).agg(aggs.head, aggs.tail: _*)
  }

  test("minhashSigs ≡ legacy explode + 16-min + collect_set aggregate") {
    corpora.foreach { docs =>
      val legacy = minhashAgg(shingleHashRows(docs),
        withSet = true).withColumn("H", sort_array(col("H")))
      val mapSide = Dedup.minhashSigs(docs, withSet = true)
        .withColumn("H", sort_array(col("H")))
      assertSameRows(mapSide, legacy, "minhash signature frame (withSet)")
      assertSameRows(
        Dedup.minhashSigs(docs, withSet = false),
        minhashAgg(shingleHashRows(docs), withSet = false),
        "minhash signature frame")
    }
  }

  // ---- q101 prefix selection: single desc-rank window (r19) ----

  test("prefixSelection ≡ legacy two-window (n2 + asc rank) selection") {
    import org.apache.spark.sql.expressions.Window
    corpora.foreach { docs =>
      val base = docs.select(col("doc_id"),
        graft.functions.WordShingleHashes(col("text"), 3).as("G"))
      // legacy (pre-r19b) formulation, verbatim: unfiltered df table,
      // post-join df >= 2 filter, count window for n2, ascending rank
      val grams = base.select(col("doc_id"), explode(col("G")).as("h"))
      val dfreq = grams.groupBy(col("h")).agg(count(lit(1)).as("df"))
      val wDoc = Window.partitionBy(col("doc_id"))
      val legacy = base
        .select(col("doc_id"), size(col("G")).as("sz"),
          explode(col("G")).as("h"))
        .join(dfreq, Seq("h"))
        .filter(col("df") >= 2)
        .withColumn("n2", count(lit(1)).over(wDoc))
        .withColumn("rk",
          row_number().over(wDoc.orderBy(col("df"), col("h"))))
        .filter(col("rk") + (col("sz") - col("n2")) <=
          ((col("sz") - pmod(col("sz"), lit(2))) / 2).cast("long") + 1)
        .select(col("doc_id"), col("sz"), col("h"),
          (col("rk") + (col("sz") - col("n2"))).as("grk"))
      assertSameRows(Dedup.prefixSelection(base), legacy,
        "q101 prefix selection")
    }
  }

  // ---- winnow kernels agree with each other ----

  test("WinnowFps is exactly WinnowFpSpans' fp set") {
    corpora.foreach { docs =>
      val a = docs.select(col("doc_id"),
        explode(WinnowFps(col("text"), WinnowK, WinnowW, WinnowPosPack))
          .as("fp"))
      val b = docs.select(col("doc_id"),
          explode(WinnowFpSpans(col("text"), WinnowK, WinnowW, WinnowPosPack))
            .as("s"))
        .select(col("doc_id"), col("s.fp").as("fp"))
      assertSameRows(a, b, "fps-vs-spans")
    }
  }
}
