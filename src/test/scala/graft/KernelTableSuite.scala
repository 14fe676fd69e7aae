package graft

import graft.functions._
import org.apache.spark.sql.{Column, Row, SparkSession}
import org.apache.spark.sql.catalyst.CatalystTypeConverters
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions.{col, expr}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

import scala.jdk.CollectionConverters._

/** Walks every row of the [[Kernels]] table on generated inputs (empty,
  * multi-space, non-ASCII, odd-length hex, tied distances): the SQL function
  * (or, for internal rows, the [[GraftColumns]] constructor) returns exactly
  * what a direct call of the row's kernel method returns, under whole-stage
  * codegen and under interpreted evaluation, and null in gives null out.
  * Also pins the plan-time contracts of the table: internal rows are not SQL
  * functions, literal parameters must be literals, and the md5 bounds hold.
  */
class KernelTableSuite extends SparkTestBase {

  // ---- generators (seeded per row, so every run sees the same inputs) ----

  private val adversarial = Gen.oneOf(
    "", " ", "   ", "a  b   c", "  lead  and trail  ", "CAFÉ  x", "İstanbul",
    "ß GROSS ÅNGSTRÖM Å", "東京 タワー 😀", " \t tab\nnew line ", "abc",
    "the quick brown fox jumps over the lazy dog the quick brown fox")
  private val word = Gen.oneOf("a", "b", "the", "fox", "É", "ß", "東京", "😀", "ab", "abc")
  private val text: Gen[String] = Gen.frequency(
    1 -> adversarial,
    3 -> Gen.listOf(Gen.zip(word, Gen.oneOf(" ", " ", "  ", "\t")))
      .map(_.map { case (w, sep) => w + sep }.mkString))
  // odd and even lengths
  private val hex: Gen[String] = Gen.listOf(Gen.hexChar).map(_.mkString)
  private val words: Gen[List[String]] = Gen.listOf(word)
  // byte order and String order agree on ASCII, so these are sorted as Spark sorts
  private val asciiSet: Gen[List[String]] =
    Gen.listOf(Gen.oneOf("a", "ab", "b", "fox", "the", "x y")).map(_.distinct.sorted)
  private val small: Gen[Long] = Gen.choose(-3L, 3L)
  private val longSet: Gen[List[Long]] = Gen.listOf(Gen.choose(-20L, 20L)).map(_.distinct.sorted)
  // few distinct coordinates, so equal distances are common
  private def vec(d: Int): Gen[List[Double]] = Gen.listOfN(d, Gen.oneOf(-1.0, 0.0, 0.5, 1.0, 2.0))
  private def centroids(d: Int): Gen[List[Row]] =
    Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, 5), vec(d))).map(_.map { case (c, v) => Row(c, v) })

  private type Args = Seq[Any]
  private case class Spec(lits: Gen[Args], cols: Args => Gen[Args], direct: Args => Any)

  private val noLits: Gen[Args] = Gen.const(Nil)
  private val oneText: Args => Gen[Args] = _ => text.map(Seq(_))
  private val oneWords: Args => Gen[Args] = _ => words.map(Seq(_))
  private val oneLongs: Args => Gen[Args] = _ => Gen.listOf(Gen.choose(0L, 5000L)).map(Seq(_))
  private val vecPair: Args => Gen[Args] = _ =>
    for (d <- Gen.choose(0, 6); a <- vec(d); b <- vec(d)) yield Seq(a, b)
  private val longPair: Args => Gen[Args] = _ =>
    for (n <- Gen.choose(0, 8); a <- Gen.listOfN(n, small); b <- Gen.listOfN(n, small))
      yield Seq(a, b)
  private val longSets: Args => Gen[Args] = _ => Gen.zip(longSet, longSet).map(p => Seq(p._1, p._2))
  private val oneVec: Args => Gen[Args] = _ => Gen.choose(0, 6).flatMap(vec).map(Seq(_))
  private val vecCents: Args => Gen[Args] = _ =>
    for (d <- Gen.choose(0, 5); v <- vec(d); c <- centroids(d)) yield Seq(v, c)

  private def u(x: Any) = x.asInstanceOf[UTF8String]
  private def a(x: Any) = x.asInstanceOf[ArrayData]
  private def i(x: Any) = x.asInstanceOf[Int]
  private def l(x: Any) = x.asInstanceOf[Long]

  /** Per row: literal settings, column inputs, and the direct kernel call
    * (arguments in table order, Catalyst values).
    */
  private val specs: Map[String, Spec] = Map(
    "cosine_sim" -> Spec(noLits, vecPair, x => VectorOps.cosine(a(x(0)), a(x(1)))),
    "rhp_sig" -> Spec(Gen.zip(Gen.choose(1, 64), Gen.long).map(p => Seq[Any](p._1, p._2)), oneVec,
      x => VectorOps.rhpSig(a(x(0)), i(x(1)), l(x(2)))),
    "rhp_bands" -> Spec(
      for (b <- Gen.choose(1, 8); per <- Gen.choose(1, 8); s <- Gen.long) yield Seq[Any](b * per, b, s),
      oneVec, x => VectorOps.rhpBands(a(x(0)), i(x(1)), i(x(2)), l(x(3)))),
    "l2sq_long" -> Spec(noLits, longPair, x => VectorOps.l2sqLong(a(x(0)), a(x(1)))),
    "l2sq_double" -> Spec(noLits, vecPair, x => VectorOps.l2sqDouble(a(x(0)), a(x(1)))),
    "dot_double" -> Spec(noLits, vecPair, x => VectorOps.dot(a(x(0)), a(x(1)))),
    "nearest_cid" -> Spec(noLits, vecCents, x => VectorOps.nearestCid(a(x(0)), a(x(1)))),
    "nearest_cids" -> Spec(Gen.choose(1, 4).map(Seq(_)), vecCents,
      x => VectorOps.nearestCids(a(x(0)), a(x(1)), i(x(2)))),
    "pq_assign" -> Spec(Gen.choose(1, 3).map(Seq(_)),
      lits => {
        val w = i(lits.head)
        for {
          m <- Gen.choose(1, 3)
          v <- vec(m * w)
          cb <- Gen.nonEmptyListOf(Gen.zip(Gen.choose(0, m - 1), Gen.choose(0, 5), vec(w)))
        } yield Seq(v, cb.map { case (s, c, cw) => Row(s, c, cw) })
      },
      x => VectorOps.pqAssign(a(x(0)), a(x(1)), i(x(2)))),

    "simhash64" -> Spec(noLits, oneText, x => HashKernels.simhash64(u(x(0)))),
    "fingerprint64" -> Spec(noLits, oneText, x => HashKernels.fingerprint64(u(x(0)))),
    "min_window_fp" -> Spec(Gen.choose(1, 8).map(Seq(_)), oneText,
      x => HashKernels.minWindowFp(u(x(0)), i(x(1)))),
    "winnow_fps" -> Spec(Gen.zip(Gen.choose(1, 6), Gen.choose(1, 4)).map(p => Seq(p._1, p._2)),
      oneText, x => HashKernels.winnowFps(u(x(0)), i(x(1)), i(x(2)))),
    "minhash_sig" -> Spec(Gen.zip(Gen.choose(1, 16), Gen.choose(1, 4)).map(p => Seq(p._1, p._2)),
      oneText, x => HashKernels.minhashArray(u(x(0)), i(x(1)), i(x(2)))),
    "minhash_bands" -> Spec(
      for (r <- Gen.choose(1, 4); b <- Gen.choose(1, 4); sh <- Gen.choose(1, 3)) yield Seq(r * b, sh, r),
      oneText, x => HashKernels.minhashBands(u(x(0)), i(x(1)), i(x(2)), i(x(3)))),
    "minhash_sig_chars" -> Spec(Gen.zip(Gen.choose(1, 16), Gen.choose(1, 4)).map(p => Seq(p._1, p._2)),
      oneText, x => HashKernels.minhashCharsArray(u(x(0)), i(x(1)), i(x(2)))),
    "bands_from_sig" -> Spec(Gen.choose(1, 4).map(Seq(_)),
      _ => Gen.listOf(Gen.long).map(Seq(_)), x => HashKernels.bandsFromSig(a(x(0)), i(x(1)))),
    "token_shingle_hashes" -> Spec(Gen.choose(1, 4).map(Seq(_)), oneText,
      x => HashKernels.tokenShingleHashes(u(x(0)), i(x(1)))),
    "token_shingles" -> Spec(Gen.choose(1, 4).map(Seq(_)), oneText,
      x => HashKernels.tokenShingles(u(x(0)), i(x(1)))),
    "char_gram_hashes" -> Spec(Gen.choose(1, 4).map(Seq(_)), oneText,
      x => HashKernels.charGramHashes(u(x(0)), i(x(1)))),
    "md5_lane" -> Spec(
      for (pos <- Gen.choose(1, 32); len <- Gen.choose(1, math.min(15, 33 - pos))) yield Seq(pos, len),
      oneText, x => HashKernels.md5Lane(u(x(0)), i(x(1)), i(x(2)))),
    "md5_lanes" -> Spec(
      for (w <- Gen.choose(1, 15); n <- Gen.choose(1, 32 / w); mod <- Gen.oneOf(0L, 7L, 1000003L))
        yield Seq[Any](w, n, mod),
      oneText, x => HashKernels.md5Lanes(u(x(0)), i(x(1)), i(x(2)), l(x(3)))),
    "jaccard_sorted" -> Spec(noLits, longSets, x => HashKernels.jaccardSorted(a(x(0)), a(x(1)))),
    "sig_agree_frac" -> Spec(noLits, longPair, x => HashKernels.sigAgreeFrac(a(x(0)), a(x(1)))),
    "jaccard_sorted_unchecked" -> Spec(noLits, longSets,
      x => HashKernels.jaccardSortedUnchecked(a(x(0)), a(x(1)))),
    "first_agree_idx" -> Spec(noLits, longPair, x => HashKernels.firstAgreeIdx(a(x(0)), a(x(1)))),
    "intersect_count_sorted" -> Spec(noLits, longSets,
      x => HashKernels.intersectCountSorted(a(x(0)), a(x(1)))),
    "intersect_count_sorted_str" -> Spec(noLits,
      _ => Gen.zip(asciiSet, asciiSet).map(p => Seq(p._1, p._2)),
      x => HashKernels.intersectCountSortedStr(a(x(0)), a(x(1)))),

    "normalize_text" -> Spec(noLits, oneText, x => TextKernels.normalizeText(u(x(0)))),
    "token_bigrams" -> Spec(noLits, oneText, x => TextKernels.tokenBigrams(u(x(0)))),
    "token_bigram_structs" -> Spec(noLits, oneText, x => TextKernels.tokenBigramStructs(u(x(0)))),
    "max_sorted_run" -> Spec(noLits, oneWords, x => TextKernels.maxSortedRun(a(x(0)))),

    "char_poly" -> Spec(noLits, oneText, x => PolyKernels.charPoly(u(x(0)))),
    "token_polys" -> Spec(noLits, oneText, x => PolyKernels.tokenPolys(u(x(0)))),
    "poly_slide" -> Spec(
      for (n <- Gen.choose(1, 4); sc <- Gen.oneOf(1L, 64L); off <- Gen.choose(0L, 9L)) yield Seq[Any](n, sc, off),
      oneLongs, x => PolyKernels.polySlide(a(x(0)), i(x(1)), l(x(2)), l(x(3)))),
    "poly_blocks" -> Spec(Gen.choose(1, 4).map(Seq(_)), oneLongs,
      x => PolyKernels.polyBlocks(a(x(0)), i(x(1)))),
    "cls_score" -> Spec(noLits, oneWords, x => PolyKernels.clsScore(a(x(0)))),
    "cdc_chunks" -> Spec(noLits, oneText, x => PolyKernels.cdcChunks(u(x(0)))),

    "ds_token_count" -> Spec(noLits, oneText, x => BpeKernels.dsTokenCount(u(x(0)))),
    "ds_pairs" -> Spec(noLits, oneText, x => BpeKernels.dsPairs(u(x(0)))),
    "ds_from_hex" -> Spec(noLits, _ => hex.map(Seq(_)), x => BpeKernels.dsFromHex(u(x(0)))),
    "bpe_apply_merges" -> Spec(noLits,
      _ => for {
        toks <- words
        merges <- Gen.listOf(Gen.zip(word, word))
      } yield Seq(toks.mkString(" ", "  ", " "), merges.map { case (x, y) => Row(x, y) }),
      x => BpeKernels.bpeApplyMerges(u(x(0)), a(x(1)))))

  /** The internal rows, built only through their [[GraftColumns]] constructors. */
  private val internal: Map[String, (Seq[Column], Args) => Column] = Map(
    "jaccard_sorted_unchecked" -> ((c, _) => GraftColumns.jaccardSortedUnchecked(c(0), c(1))),
    "intersect_count_sorted" -> ((c, _) => GraftColumns.intersectCountSorted(c(0), c(1))),
    "intersect_count_sorted_str" -> ((c, _) => GraftColumns.intersectCountSortedStr(c(0), c(1))),
    "first_agree_idx" -> ((c, _) => GraftColumns.firstAgreeIdx(c(0), c(1))),
    "nearest_cid" -> ((c, _) => GraftColumns.nearestCid(c(0), c(1))),
    "nearest_cids" -> ((c, x) => GraftColumns.nearestCids(c(0), c(1), i(x(0)))),
    "pq_assign" -> ((c, x) => GraftColumns.pqAssign(c(0), c(1), i(x(0)))),
    "l2sq_long" -> ((c, _) => GraftColumns.l2sqLong(c(0), c(1))),
    "l2sq_double" -> ((c, _) => GraftColumns.l2sqDouble(c(0), c(1))),
    "dot_double" -> ((c, _) => GraftColumns.dotDouble(c(0), c(1))))

  // ---- the two evaluation modes ----

  // a LocalRelation input would otherwise be evaluated by the optimizer
  // (ConvertToLocalRelation), never reaching the generated projection
  private def session(confs: (String, String)*): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.sql.optimizer.excludedRules",
      "org.apache.spark.sql.catalyst.optimizer.ConvertToLocalRelation")
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    s
  }
  // a codegen compile error fails the query instead of falling back
  private lazy val codegen = session("spark.sql.codegen.fallback" -> "false")
  // StaticInvoke's reflective eval
  private lazy val interpreted = session(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")

  /** Equality that compares doubles by bits (so NaN equals NaN) at any depth. */
  private def same(x: Any, y: Any): Boolean = (x, y) match {
    case (p: Double, q: Double) =>
      java.lang.Double.doubleToLongBits(p) == java.lang.Double.doubleToLongBits(q)
    case (p: scala.collection.Seq[_], q: scala.collection.Seq[_]) =>
      p.length == q.length && p.zip(q).forall { case (m, n) => same(m, n) }
    case (p: Row, q: Row) => same(p.toSeq, q.toSeq)
    case _ => x == y
  }

  private def sqlLiteral(v: Any): String = v match {
    case n: Long => s"${n}L"
    case n       => n.toString
  }

  private def checkRow(k: Kernel, spec: Spec): Unit = {
    val colIdx = k.args.indices.filterNot(k.args(_).literal)
    val params = Gen.Parameters.default.withSize(12)
    val seed = Seed(k.name.hashCode.toLong)
    val settings = Gen.listOfN(2, spec.lits).pureApply(params, seed)
    settings.zipWithIndex.foreach { case (lits, s) =>
      val cases = Gen.listOfN(30, spec.cols(lits)).pureApply(params, seed.reseed(s + 1L))
      // one more input per column with that column null
      val nulled = colIdx.indices.map(j => cases.head.updated(j, null))
      val inputs = cases ++ nulled
      val schema = StructType(StructField("id", IntegerType) +:
        colIdx.map(j => StructField(s"c$j", k.args(j).tpe)))
      def merged(cols: Args): Args = {
        val (c, li) = (cols.iterator, lits.iterator)
        k.args.map(arg => if (arg.literal) li.next() else c.next())
      }
      val expected = cases.map { cols =>
        val catalyst = merged(cols).map(CatalystTypeConverters.convertToCatalyst)
        CatalystTypeConverters.convertToScala(spec.direct(catalyst), k.result)
      } ++ nulled.map(_ => null)

      for ((mode, ss) <- Seq("codegen" -> codegen, "interpreted" -> interpreted)) {
        val df = ss.createDataFrame(
          inputs.zipWithIndex.map { case (c, id) => Row(id +: c: _*) }.asJava, schema)
        val call = if (k.public)
          expr(s"${k.name}(${merged(colIdx.map(j => s"c$j")).map {
            case c: String => c
            case v         => sqlLiteral(v)
          }.mkString(", ")})")
        else internal(k.name)(colIdx.map(j => col(s"c$j")), lits)
        val out = df.select(col("id"), call.as("r"))
        val got = out.collect().map(r => r.getInt(0) -> r.get(1)).toMap
        val wscg = flattenPlan(out.queryExecution.executedPlan)
          .exists(_.isInstanceOf[WholeStageCodegenExec])
        assert(wscg == (mode == "codegen"), s"${k.name} [$mode]: whole-stage codegen = $wscg")
        expected.zipWithIndex.foreach { case (want, id) =>
          assert(same(got(id), want),
            s"${k.name}${lits.mkString("(", ", ", ")")} [$mode] on ${inputs(id)}: " +
              s"got ${got(id)}, direct call gives $want")
        }
      }
    }
  }

  test("every table row has a generated spec; internal rows only a GraftColumns constructor") {
    assert(Kernels.all.map(_.name).toSet == specs.keySet)
    assert(Kernels.all.map(_.name).distinct.size == Kernels.all.size)
    assert(Kernels.all.filterNot(_.public).map(_.name).toSet == internal.keySet)
    // literal parameters follow the column ones, as GraftColumns passes them
    Kernels.all.foreach(k => assert(k.args.map(_.literal) == k.args.map(_.literal).sorted, k.name))
  }

  Kernels.all.foreach { k =>
    test(s"kernel ${k.name}: SQL call equals the direct ${k.method} call, codegen and interpreted") {
      checkRow(k, specs(k.name))
    }
  }

  /** Messages of an exception and all its causes. */
  private def messages(t: Throwable): String =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf(_)).mkString(" | ")

  test("internal rows are not SQL functions") {
    Kernels.all.filterNot(_.public).foreach { k =>
      val e = intercept[org.apache.spark.sql.AnalysisException] {
        spark.sql(s"SELECT ${k.name}(array(1L, 2L), array(1L, 3L))")
      }
      assert(e.getCondition == "UNRESOLVED_ROUTINE", s"${k.name}: ${messages(e)}")
    }
  }

  test("literal parameters must be literals, and a column must have the declared type") {
    val e = intercept[Exception] {
      spark.range(3).selectExpr("minhash_sig('a b c', CAST(id AS INT) + 3, 3)")
    }
    assert(messages(e).contains("minhash_sig: k must be an int literal"), messages(e))
    // a long literal is accepted for an int parameter only when it fits
    assert(spark.range(1).selectExpr("minhash_sig('a b c', 4L, 3)").head().getSeq[Long](0).size == 4)
    val wide = intercept[Exception] {
      spark.range(1).selectExpr("minhash_sig('a b c', 4294967300L, 3)")
    }
    assert(messages(wide).contains("minhash_sig: k must be an int literal"), messages(wide))
    val t = intercept[org.apache.spark.sql.AnalysisException] {
      spark.range(3).selectExpr("cosine_sim(array(1L), array(2L))")
    }
    assert(t.getCondition.startsWith("DATATYPE_MISMATCH"), messages(t))
  }

  test("md5_lane and md5_lanes reject out-of-range lanes when the plan is built") {
    val lane = intercept[Exception] {
      spark.range(1).selectExpr("md5_lane(CAST(id AS STRING), 30, 5)")
    }
    assert(messages(lane).contains("md5_lane: need"), messages(lane))
    val lanes = intercept[Exception] {
      spark.range(1).selectExpr("md5_lanes(CAST(id AS STRING), 8, 5, 0L)")
    }
    assert(messages(lanes).contains("md5_lanes: need"), messages(lanes))
  }
}
