package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{ExpectsInputTypes, Expression, Literal, RuntimeReplaceable}
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.graft.ColumnShim
import org.apache.spark.sql.types._

/** One parameter of a [[Kernel]]: a column of type `tpe`, or, when
  * `literal`, an int/long constant that the call must spell as a literal.
  */
final case class KernelArg(name: String, tpe: DataType, literal: Boolean) {

  /** `e` itself for a column parameter; for a literal one, its value as a
    * [[Literal]] of exactly `tpe`, so the static method's signature matches.
    */
  def bind(fn: String, e: Expression): Expression =
    if (!literal) e
    else (tpe, if (e.foldable) e.eval() else e) match {
      case (IntegerType, v: Int)  => Literal(v)
      case (IntegerType, v: Long) if v.isValidInt => Literal(v.toInt)
      case (LongType, v: Int)     => Literal(v.toLong)
      case (LongType, v: Long)    => Literal(v)
      case (_, v) =>
        throw new IllegalArgumentException(
          s"$fn: $name must be ${if (tpe == IntegerType) "an int" else "a long"} literal, got $v")
    }
}

/** One native kernel: its SQL name, the static method of a kernel object
  * that computes it, its parameter and result types, whether it is a public
  * SQL function or internal (reachable only through [[GraftColumns]]), and a
  * plan-time check on its literal parameters.
  */
final case class Kernel(
    name: String,
    obj: Class[_],
    method: String,
    args: Seq[KernelArg],
    result: DataType,
    public: Boolean = true,
    check: Seq[Any] => Unit = _ => ()) {

  /** The call expression; literal parameters are bound and checked here, so
    * a misuse fails when the plan is built.
    */
  def call(es: Seq[Expression]): Expression = {
    require(es.size == args.size, s"$name takes ${args.size} arguments, got ${es.size}")
    val bound = args.zip(es).map { case (a, e) => a.bind(name, e) }
    check(args.zip(bound).collect { case (a, Literal(v, _)) if a.literal => v })
    KernelCall(this, bound)
  }
}

/** A [[Kernel]] call. The analyzed plan keeps the SQL name and checks the
  * argument types; the optimizer replaces it by a `StaticInvoke` of the
  * kernel method, which whole-stage codegen calls directly and which
  * evaluates by reflection when codegen is off. Null in gives null out.
  */
case class KernelCall(kernel: Kernel, children: Seq[Expression])
    extends RuntimeReplaceable
    with ExpectsInputTypes {

  // inferred as Seq[DataType]: the declared element type, AbstractDataType,
  // is private to Spark's sql package
  override def inputTypes = kernel.args.map(_.tpe)
  override def prettyName: String = kernel.name
  override def stringArgs: Iterator[Any] = children.iterator

  override lazy val replacement: Expression = StaticInvoke(
    kernel.obj, kernel.result, kernel.method, children,
    propagateNull = true, returnNullable = false)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression = copy(children = newChildren)
}

/** The table of native kernels. Adding one is a static method on a kernel
  * object plus one row here. See each method's scaladoc for the exact
  * expression form it replaces.
  */
object Kernels {
  private val V = VectorOps.getClass
  private val H = HashKernels.getClass
  private val T = TextKernels.getClass
  private val P = PolyKernels.getClass
  private val B = BpeKernels.getClass

  private def col(t: DataType) = KernelArg("", t, literal = false)
  private def int(name: String) = KernelArg(name, IntegerType, literal = true)
  private def long(name: String) = KernelArg(name, LongType, literal = true)
  private val str = col(StringType)
  private val strs = col(ArrayType(StringType))
  private val longs = col(ArrayType(LongType))
  private val doubles = col(ArrayType(DoubleType))
  // kernel results never hold null elements or fields
  private def arrayOf(t: DataType) = ArrayType(t, containsNull = false)
  private def structOf(fields: (String, DataType)*) =
    StructType(fields.map { case (n, t) => StructField(n, t, nullable = false) })
  private val longArr = arrayOf(LongType)
  // the centroid and codebook layouts the engine's plans build
  private val cents = col(ArrayType(structOf("cid" -> IntegerType, "cv" -> ArrayType(DoubleType))))
  private val codebook = col(ArrayType(
    structOf("sub" -> IntegerType, "cid" -> IntegerType, "cw" -> ArrayType(DoubleType))))

  val all: Seq[Kernel] = Seq(
    Kernel("cosine_sim", V, "cosine", Seq(doubles, doubles), DoubleType),
    Kernel("rhp_sig", V, "rhpSig", Seq(doubles, int("planes"), long("seed")), LongType),
    Kernel("rhp_bands", V, "rhpBands",
      Seq(doubles, int("planes"), int("bands"), long("seed")), longArr),
    Kernel("l2sq_long", V, "l2sqLong", Seq(longs, longs), LongType, public = false),
    Kernel("l2sq_double", V, "l2sqDouble", Seq(doubles, doubles), DoubleType, public = false),
    Kernel("dot_double", V, "dot", Seq(doubles, doubles), DoubleType, public = false),
    Kernel("nearest_cid", V, "nearestCid", Seq(doubles, cents), IntegerType, public = false),
    Kernel("nearest_cids", V, "nearestCids", Seq(doubles, cents, int("keep")),
      arrayOf(IntegerType), public = false),
    Kernel("pq_assign", V, "pqAssign", Seq(doubles, codebook, int("w")),
      arrayOf(structOf("sub" -> IntegerType, "cid" -> IntegerType, "sv" -> arrayOf(DoubleType))),
      public = false),

    Kernel("simhash64", H, "simhash64", Seq(str), LongType),
    Kernel("fingerprint64", H, "fingerprint64", Seq(str), LongType),
    Kernel("min_window_fp", H, "minWindowFp", Seq(str, int("window")), LongType),
    Kernel("winnow_fps", H, "winnowFps", Seq(str, int("w"), int("t")), longArr),
    Kernel("minhash_sig", H, "minhashArray", Seq(str, int("k"), int("shingle")), longArr),
    Kernel("minhash_bands", H, "minhashBands",
      Seq(str, int("k"), int("shingle"), int("r")), longArr),
    Kernel("minhash_sig_chars", H, "minhashCharsArray", Seq(str, int("k"), int("n")), longArr),
    Kernel("bands_from_sig", H, "bandsFromSig", Seq(longs, int("r")), longArr),
    Kernel("token_shingle_hashes", H, "tokenShingleHashes", Seq(str, int("n")), longArr),
    Kernel("token_shingles", H, "tokenShingles", Seq(str, int("n")), arrayOf(StringType)),
    Kernel("char_gram_hashes", H, "charGramHashes", Seq(str, int("n")), longArr),
    Kernel("md5_lane", H, "md5Lane", Seq(str, int("pos"), int("len")), LongType,
      check = { case Seq(pos: Int, len: Int) =>
        require(pos >= 1 && len >= 1 && pos + len - 1 <= 32 && len <= 15,
          s"md5_lane: need 1 <= pos, 1 <= len <= 15, pos + len - 1 <= 32 " +
            s"(got pos=$pos, len=$len)")
      }),
    Kernel("md5_lanes", H, "md5Lanes", Seq(str, int("width"), int("n"), long("mod")), longArr,
      check = { case Seq(width: Int, n: Int, _) =>
        require(width >= 1 && width <= 15 && n >= 1 && n * width <= 32,
          s"md5_lanes: need 1 <= width <= 15, n >= 1, n * width <= 32 " +
            s"(got width=$width, n=$n)")
      }),
    // jaccard_sorted validates that both inputs are sorted and distinct; the
    // unchecked form trusts the plan shape and would return a silently wrong
    // Jaccard on unsorted input, so it stays out of the SQL namespace
    Kernel("jaccard_sorted", H, "jaccardSorted", Seq(longs, longs), DoubleType),
    Kernel("sig_agree_frac", H, "sigAgreeFrac", Seq(longs, longs), DoubleType),
    Kernel("jaccard_sorted_unchecked", H, "jaccardSortedUnchecked", Seq(longs, longs),
      DoubleType, public = false),
    Kernel("first_agree_idx", H, "firstAgreeIdx", Seq(longs, longs), IntegerType,
      public = false),
    Kernel("intersect_count_sorted", H, "intersectCountSorted", Seq(longs, longs), LongType,
      public = false),
    Kernel("intersect_count_sorted_str", H, "intersectCountSortedStr", Seq(strs, strs),
      LongType, public = false),

    Kernel("normalize_text", T, "normalizeText", Seq(str), StringType),
    Kernel("token_bigrams", T, "tokenBigrams", Seq(str), arrayOf(StringType)),
    Kernel("token_bigram_structs", T, "tokenBigramStructs", Seq(str),
      arrayOf(structOf("a" -> StringType, "b" -> StringType))),
    Kernel("max_sorted_run", T, "maxSortedRun", Seq(strs), LongType),

    Kernel("char_poly", P, "charPoly", Seq(str), LongType),
    Kernel("token_polys", P, "tokenPolys", Seq(str), longArr),
    Kernel("poly_slide", P, "polySlide",
      Seq(longs, int("l"), long("scale"), long("offset")), longArr),
    Kernel("poly_blocks", P, "polyBlocks", Seq(longs, int("width")), longArr),
    Kernel("cls_score", P, "clsScore", Seq(strs), LongType),
    Kernel("cdc_chunks", P, "cdcChunks", Seq(str),
      arrayOf(structOf("clen" -> LongType, "chash" -> LongType))),

    Kernel("ds_token_count", B, "dsTokenCount", Seq(str), LongType),
    Kernel("ds_pairs", B, "dsPairs", Seq(str), arrayOf(StringType)),
    Kernel("ds_from_hex", B, "dsFromHex", Seq(str), StringType),
    Kernel("bpe_apply_merges", B, "bpeApplyMerges",
      Seq(str, col(ArrayType(structOf("x" -> StringType, "y" -> StringType)))), StringType))

  private val byName: Map[String, Kernel] = all.map(k => k.name -> k).toMap

  def apply(name: String): Kernel = byName(name)
}

/** Column constructors for the internal kernels, which stay out of the SQL
  * namespace: their preconditions hold by the shape of the engine's own
  * plans and are not checked per row, so a user SQL call could be silently
  * wrong.
  */
object GraftColumns {
  private def call(name: String, cols: Seq[Column], lits: Int*): Column =
    ColumnShim.column(Kernels(name).call(cols.map(ColumnShim.expression) ++ lits.map(Literal(_))))

  /** Both arrays must be `array_sort` of a distinct hash set; see
    * [[HashKernels.jaccardSortedUnchecked]].
    */
  def jaccardSortedUnchecked(a: Column, b: Column): Column =
    call("jaccard_sorted_unchecked", Seq(a, b))

  /** Same sorted-input precondition; see [[HashKernels.intersectCountSorted]]. */
  def intersectCountSorted(a: Column, b: Column): Column =
    call("intersect_count_sorted", Seq(a, b))

  /** String-array form; see [[HashKernels.intersectCountSortedStr]]. */
  def intersectCountSortedStr(a: Column, b: Column): Column =
    call("intersect_count_sorted_str", Seq(a, b))

  /** Over the band arrays the engine's plans build; see [[HashKernels.firstAgreeIdx]]. */
  def firstAgreeIdx(a: Column, b: Column): Column = call("first_agree_idx", Seq(a, b))

  /** `cents` is the engine-built array<struct<cid, cv>>; see [[VectorOps.nearestCid]]. */
  def nearestCid(v: Column, cents: Column): Column = call("nearest_cid", Seq(v, cents))

  /** Same layout as [[nearestCid]]; cids come back sorted ascending. */
  def nearestCids(v: Column, cents: Column, keep: Int): Column =
    call("nearest_cids", Seq(v, cents), keep)

  /** `cb` is the engine-built array<struct<sub, cid, cw>>, `w` the subspace
    * dimension; see [[VectorOps.pqAssign]].
    */
  def pqAssign(v: Column, cb: Column, w: Int): Column = call("pq_assign", Seq(v, cb), w)

  /** The fixed-point clustering distance; see [[VectorOps.l2sqLong]]. */
  def l2sqLong(a: Column, b: Column): Column = call("l2sq_long", Seq(a, b))

  /** The PQ Lloyd-round distance; see [[VectorOps.l2sqDouble]]. */
  def l2sqDouble(a: Column, b: Column): Column = call("l2sq_double", Seq(a, b))

  /** The PQ lookup-table dot product; see [[VectorOps.dot]]. */
  def dotDouble(a: Column, b: Column): Column = call("dot_double", Seq(a, b))
}
