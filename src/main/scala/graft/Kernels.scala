package graft

import scala.reflect.ClassTag

import org.apache.spark.sql.{Column, GraftColumns}
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.types.IntegerType

import graft.{functions => fn}

/** The engine's native Catalyst kernels, one row each: SQL name, arity
  * and constructor. Both ways of calling a kernel read the same row:
  *  - the Column functions below build the expression directly, so a
  *    kernel's plan does not depend on the session, the thread, or
  *    whether [[GraftExtensions]] is installed;
  *  - [[GraftExtensions]] registers every row under its name for SQL
  *    strings (`SELECT graft_simhash(words) ...`).
  * Every kernel's `prettyName` is its registered name, so plan strings
  * and generated column names read the same either way. */
object Kernels {

  final case class Kernel(name: String, arity: Int, className: String,
      make: Seq[Expression] => Expression) {
    /** The kernel over already-built children, as a Column. */
    def apply(children: Expression*): Column = GraftColumns.column(make(children))
  }

  private def kernel[T <: Expression: ClassTag](name: String, arity: Int)(
      make: Seq[Expression] => Expression): Kernel =
    Kernel(name, arity, implicitly[ClassTag[T]].runtimeClass.getName, make)

  private val Dot = kernel[fn.DotProduct]("graft_dot", 2)(c => fn.DotProduct(c(0), c(1)))
  private val SimHash = kernel[fn.SimHashDoc]("graft_simhash", 1)(c => fn.SimHashDoc(c(0)))
  private val MinHash = kernel[fn.MinHashSigDoc]("graft_minhash", 1)(c => fn.MinHashSigDoc(c(0)))
  private val NormText = kernel[fn.NormTextExpr]("graft_norm_text", 1)(c => fn.NormTextExpr(c(0)))
  private val Bigrams = kernel[fn.BigramArray]("graft_bigrams", 1)(c => fn.BigramArray(c(0)))
  private val TopCount = kernel[fn.TopWordCount]("graft_topcount", 1)(c => fn.TopWordCount(c(0)))
  private val GramSet = kernel[fn.GramSet]("graft_gramset", 2) { c =>
    require(c(1).foldable && c(1).dataType == IntegerType,
      "graft_gramset: shingle width must be an int literal")
    fn.GramSet(c(0), c(1).eval().asInstanceOf[Int])
  }
  private val Bpe = kernel[fn.BpeEncode]("graft_bpe", 2)(c => fn.BpeEncode(c(0), c(1)))
  private val DeflateLen = kernel[fn.DeflateLen]("graft_deflate_len", 1)(c => fn.DeflateLen(c(0)))
  private val Mg = kernel[fn.MgFrequentItems]("graft_mg", 2)(c => fn.MgFrequentItems(c(0), c(1)))
  private val Bloom = kernel[fn.BloomAgg]("graft_bloom", 3)(c => fn.BloomAgg(c(0), c(1), c(2)))
  private val BloomContains = kernel[fn.BloomMightContain]("graft_bloom_contains", 2)(
    c => fn.BloomMightContain(c(0), c(1)))
  private val IvfScores = kernel[fn.IvfScores]("graft_ivf_scores", 3)(
    c => fn.IvfScores(c(0), c(1), c(2)))
  private val PqEncode = kernel[fn.PqEncode]("graft_pq_encode", 2)(c => fn.PqEncode(c(0), c(1)))
  private val PqLut = kernel[fn.PqLut]("graft_pq_lut", 2)(c => fn.PqLut(c(0), c(1)))
  private val PqAdc = kernel[fn.PqAdc]("graft_pq_adc", 2)(c => fn.PqAdc(c(0), c(1)))
  private val TopK = kernel[fn.TopKByScore]("graft_topk", 3)(c => fn.TopKByScore(c(0), c(1), c(2)))

  val table: Seq[Kernel] = Seq(Dot, SimHash, MinHash, NormText, Bigrams, TopCount, GramSet,
    Bpe, DeflateLen, Mg, Bloom, BloomContains, IvfScores, PqEncode, PqLut, PqAdc, TopK)

  private def e(c: Column): Expression = GraftColumns.expression(c)

  /** Sequential double-precision dot product ([[fn.DotProduct]]). */
  def dot(a: Column, b: Column): Column = Dot(e(a), e(b))
  /** 64-bit SimHash of a words array ([[fn.SimHashDoc]]). */
  def simhash(words: Column): Column = SimHash(e(words))
  /** 16-hash MinHash signature of a words array ([[fn.MinHashSigDoc]]). */
  def minhash(words: Column): Column = MinHash(e(words))
  /** lowercase, strip non [a-z ], collapse runs of spaces, trim
    * ([[fn.NormTextExpr]]). */
  def normText(text: Column): Column = NormText(e(text))
  /** Adjacent-word bigrams ([[fn.BigramArray]]). */
  def bigrams(words: Column): Column = Bigrams(e(words))
  /** Count of the most frequent word ([[fn.TopWordCount]]). */
  def topCount(words: Column): Column = TopCount(e(words))
  /** Distinct `width`-word grams, first-occurrence order ([[fn.GramSet]]). */
  def gramSet(words: Column, width: Int): Column = GramSet(e(words), Literal(width))
  /** BPE tokens of a words array under a literal `array<array<string>>`
    * merge table ([[fn.BpeEncode]]). */
  def bpe(words: Column, mergeTable: Column): Column = Bpe(e(words), e(mergeTable))
  /** zlib deflate length of a string's UTF-8 bytes ([[fn.DeflateLen]]). */
  def deflateLen(text: Column): Column = DeflateLen(e(text))
  /** Misra-Gries frequent-item candidates, an aggregate ([[fn.MgFrequentItems]]). */
  def mg(item: Column, capacity: Int): Column = Mg(e(item), Literal(capacity))
  /** Bloom filter of a string column, an aggregate ([[fn.BloomAgg]]). */
  def bloom(key: Column, bits: Int, hashes: Int): Column =
    Bloom(e(key), Literal(bits), Literal(hashes))
  /** Membership probe against an encoded filter ([[fn.BloomMightContain]]). */
  def bloomContains(key: Column, filter: Array[Byte]): Column =
    BloomContains(e(key), Literal(filter))
  /** Per-centroid (cosine, list id) structs under a literal quantizer of
    * (list id, centroid, centroid norm) rows ([[fn.IvfScores]]). */
  def ivfScores(emb: Column, nrm: Column, quantizer: Column): Column =
    IvfScores(e(emb), e(nrm), e(quantizer))
  /** PQ codes under a literal `array<array<array<double>>>` codebook
    * ([[fn.PqEncode]]). */
  def pqEncode(emb: Column, codebook: Column): Column = PqEncode(e(emb), e(codebook))
  /** The ADC lookup table of a query vector ([[fn.PqLut]]). */
  def pqLut(emb: Column, codebook: Column): Column = PqLut(e(emb), e(codebook))
  /** ADC approximate dot from a lookup table and codes ([[fn.PqAdc]]). */
  def pqAdc(lut: Column, codes: Column): Column = PqAdc(e(lut), e(codes))
  /** Top-k (neighbor id, score) per group, best first, ties by id; a null
    * score or id never ranks. An aggregate ([[fn.TopKByScore]]). */
  def topk(score: Column, id: Column, k: Int): Column = TopK(e(score), e(id), Literal(k))
}
