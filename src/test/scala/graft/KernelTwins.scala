package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

import graft.operators.{Dedup, Similarity}
import graft.operators.Similarity.{PqSubDim, PqSubspaces}

/** Builtin-tree and UDF reference implementations of the native kernels
  * in [[Kernels]]. The kernel-vs-twin specs (TextOpsSpec, DedupSpec,
  * SimilaritySpec) pin each kernel to its twin bit-for-bit: the kernels
  * exist for per-row cost and plan size, never for different results. */
object KernelTwins {

  // ---- text (TextOpsSpec) ----------------------------------------------

  /** lowercase, strip non [a-z ], collapse runs of spaces, trim — the
    * regex chain `graft_norm_text` replaces, and the one the DuckDB
    * oracles replay. */
  def normTextTree(c: Column): Column =
    trim(regexp_replace(regexp_replace(lower(c), "[^a-z ]", ""), " +", " "))

  /** Adjacent bigrams of a `words` column (defined for >= 2 words). */
  def bigramsOfWordsTree: Column =
    expr("transform(sequence(1, size(words) - 1), i -> concat(words[i-1], ' ', words[i]))")

  /** Count of the most frequent element, through the kernel's own
    * driver-side function. */
  def topCountSeq(words: Seq[String]): Long = {
    val arr = new org.apache.spark.sql.catalyst.util.GenericArrayData(words.map(w =>
      if (w == null) null
      else org.apache.spark.unsafe.types.UTF8String.fromString(w)).toArray[Any])
    graft.functions.DocHashes.topCount(arr)
  }

  // ---- dedup (DedupSpec) -----------------------------------------------

  /** Distinct word-3-gram set of a `words` column (defined for >= 3 words). */
  def gramSetTree: Column = expr(
    """array_distinct(transform(sequence(1, size(words) - 2),
      |  i -> concat_ws(' ', element_at(words, i), element_at(words, i + 1), element_at(words, i + 2))))
      |""".stripMargin)

  /** Distinct word-[[Dedup.DecontamGram]]-gram set of a `w` column. */
  def decontamGramSetTree: Column = expr(
    s"""array_distinct(transform(sequence(1, size(w) - ${Dedup.DecontamGram - 1}),
       |  i -> array_join(slice(w, i, ${Dedup.DecontamGram}), ' ')))""".stripMargin)

  // ---- vectors (SimilaritySpec) ----------------------------------------

  /** Sequential double dot product as higher-order functions. The
    * coalesce matches the kernel on degenerate inputs: a null element, or
    * the null padding zip_with adds for unequal lengths, contributes 0. */
  def interpretedDot(a: Column, b: Column): Column =
    aggregate(zip_with(a, b, (x, y) => coalesce(x.cast("double") * y.cast("double"), lit(0.0))),
      lit(0.0), (acc, v) => acc + v)

  /** Per-centroid (cosine, list id) score structs. */
  def ivfScoresTree(centroids: Array[(Int, Array[Double], Double)])(
      emb: Column, nrm: Column): Column = array(centroids.map { case (i, c, cn) =>
    val cArr = array(c.map(lit): _*)
    struct((Kernels.dot(emb, cArr) / (nrm * lit(cn))).as("score"), lit(i).as("list_id"))
  }: _*)

  /** Per-subspace PQ code: argmax of (dot(x_m, c) − ‖c‖²/2), ties to the
    * larger code (array_max's struct order). */
  def pqCodeColsTree(cb: Array[Array[Array[Double]]])(emb: Column): Column = {
    val cn2 = Similarity.pqCn2(cb)
    array((0 until PqSubspaces).map { m =>
      val sub = slice(emb, m * PqSubDim + 1, PqSubDim)
      array_max(array(cb(m).indices.map { k =>
        struct((Kernels.dot(sub, array(cb(m)(k).map(lit): _*)) - lit(cn2(m)(k) / 2)).as("score"),
          lit(k).as("code"))
      }: _*)).getField("code")
    }: _*)
  }

  /** The ADC lookup table: lut(m)(k) = dot(q_m, c_{m,k}). */
  def pqLutTree(cb: Array[Array[Array[Double]]])(qEmb: Column): Column =
    array((0 until PqSubspaces).map { m =>
      val sub = slice(qEmb, m * PqSubDim + 1, PqSubDim)
      array(cb(m).indices.map(k => Kernels.dot(sub, array(cb(m)(k).map(lit): _*))): _*)
    }: _*)

  /** ADC approximate dot: Σ_m lut(m)(code_m), summed in subspace order. */
  def pqAdcTree(lut: Column, codes: Column): Column =
    (0 until PqSubspaces).map(m =>
      element_at(element_at(lut, m + 1), codes.getItem(m) + 1)).reduce[Column](_ + _)
}

/** Generated inputs for the kernel-vs-twin properties. */
object KernelsGen {
  import org.scalacheck.Gen

  /** Non-ASCII pieces: accents, a combining mark, scripts without case,
    * case mappings that land on ASCII (İ, the Kelvin sign), a ligature,
    * fullwidth forms, emoji with and without modifiers, a no-break space. */
  private val exotic: Gen[String] = Gen.oneOf("é", "ß", "İ", "\u212A", "ﬁ", "Ω", "ж", "中文",
    "ＦＵＬＬ", "ｗｉｄｅ", "🙂", "👍🏽", "e\u0301", "\u00A0", "ΑΒΓ")

  private val piece: Gen[String] = Gen.frequency(
    (4, Gen.alphaStr.map(_.take(8))), (2, Gen.alphaUpperStr.map(_.take(4))),
    (1, Gen.numStr.map(_.take(3))),
    (3, Gen.oneOf(" ", "  ", "   ", "\t", "\n", ",", "!", "-", "'")),
    (3, exotic))

  /** A document text; sometimes empty or NULL. */
  val text: Gen[String] = Gen.frequency(
    (1, Gen.const(null: String)), (1, Gen.const("")),
    (12, Gen.choose(0, 12).flatMap(n => Gen.listOfN(n, piece)).map(_.mkString)))

  /** A word from a small vocabulary (so grams repeat); sometimes empty,
    * NULL or non-ASCII. */
  val word: Gen[String] = Gen.frequency(
    (1, Gen.const(null: String)), (1, Gen.const("")),
    (6, Gen.oneOf("a", "b", "aa", "the", "cat")), (2, exotic))

  /** A words array of `minLen` to `maxLen` elements; sometimes NULL. */
  def words(minLen: Int, maxLen: Int): Gen[Seq[String]] = Gen.frequency(
    (1, Gen.const(null: Seq[String])),
    (9, Gen.choose(minLen, maxLen).flatMap(n => Gen.listOfN(n, word))))
}

/** Generated vectors for the PQ / IVF kernel-vs-twin properties. */
object VecGen {
  import org.scalacheck.Gen
  import graft.operators.Similarity.Dim

  /** A component: mostly unit-scale, sometimes ±0, huge, tiny or denormal. */
  private val component: Gen[Double] = Gen.frequency(
    (12, Gen.choose(-1.0, 1.0)), (1, Gen.oneOf(0.0, -0.0)),
    (1, Gen.oneOf(1e30, -1e30, 1e-30, Double.MinPositiveValue)))

  /** A `Dim`-float embedding that is never all zeros (a zero norm fails
    * the ANSI division on both faces alike). */
  val embedding: Gen[Array[Float]] =
    Gen.listOfN(Dim, component).map(_.map(_.toFloat).toArray).map { v =>
      if (v.exists(_ != 0f)) v else v.updated(0, 1f)
    }

  /** A PQ codebook: `PqSubspaces` × (1 to 16 codes) × `PqSubDim`. */
  val codebook: Gen[Array[Array[Array[Double]]]] = Gen.choose(1, 16).flatMap { k =>
    Gen.listOfN(Similarity.PqSubspaces,
      Gen.listOfN(k, Gen.listOfN(Similarity.PqSubDim, component).map(_.toArray)).map(_.toArray))
      .map(_.toArray)
  }

  /** An IVF quantizer: 1 to 20 (list id, centroid, norm) rows. */
  val centroids: Gen[Array[(Int, Array[Double], Double)]] =
    Gen.choose(1, 20).flatMap(n => Gen.listOfN(n, Gen.listOfN(Dim, Gen.choose(-1.0, 1.0))))
      .map(_.zipWithIndex.map { case (c, i) =>
        (i, c.toArray, math.sqrt(c.map(x => x * x).sum))
      }.toArray)
}
