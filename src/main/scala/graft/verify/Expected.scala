package graft.verify

import scala.collection.mutable

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.XXH64
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.DocHashes
import graft.operators.{Dedup, Similarity}

/** Driver-side differential twins for the thirteen queries whose math DuckDB
  * cannot replay in SQL (xxhash64-based fingerprints, iterative quantizer
  * and PQ-codebook training, iterative BPE merge training, zlib deflate):
  * each generator recomputes the
  * query's EXPECTED output as
  * plain sequential Scala over the collected input table — no DataFrames,
  * no Spark expressions, no shuffles — writes it as parquet, and hands the
  * verify harness a `read_parquet` oracle so the driver's DuckDB compare
  * covers these queries with the same full rows+schema+hash gate as the
  * SQL-replay oracles.
  *
  * Independence contract: the twins share ONLY the deliberately
  * bit-identical primitives with the engine — [[DocHashes]]'s Seq hashing
  * twins, [[Similarity.ddot]], and [[Similarity.trainQuantizerOnSample]]
  * (sharing the quantizer trainer is the point: the expected generator and
  * the engine must train the same quantizer or the differential tests
  * nothing). Everything DISTRIBUTED — banding, bucket joins, window
  * ranking, rounding, NaN ordering, probe pruning — is re-derived here
  * independently, so a regression in any distributed stage shows up as a
  * hash mismatch.
  *
  * Scale note: these run over the 500-row documents/embeddings tables at
  * verify time — verification-plane, not data-plane. The ENGINE queries
  * they check are the distributed implementations that scale.
  */
object Expected {

  // ---- text twins (mirror Dedup's normText/split semantics exactly) -----
  /** `lower` via UTF8String (the engine's own lowercasing — locale-free),
    * then the same two regexp_replace passes and trim. */
  private[graft] def normText(text: String): String =
    UTF8String.fromString(text).toLowerCase.toString
      .replaceAll("[^a-z ]", "").replaceAll(" +", " ").trim

  /** Spark's split(col, " ") keeps trailing empties (limit -1): an empty
    * normalized text yields Array("") exactly as the engine sees it. */
  private[graft] def splitWords(norm: String): Array[String] = norm.split(" ", -1)

  /** Spark's multi-argument xxhash64: fold each long through XXH64 with
    * the running hash as seed, starting from seed 42. */
  private[graft] def xxhash64(vals: Seq[Long]): Long =
    vals.foldLeft(42L)((acc, v) => XXH64.hashLong(v, acc))

  /** Spark's round(col, 6) on doubles: NaN/Infinity pass through, else
    * HALF_UP on the decimal string representation. */
  private[graft] def round6(x: Double): Double =
    if (java.lang.Double.isNaN(x) || java.lang.Double.isInfinite(x)) x
    else java.math.BigDecimal.valueOf(x)
      .setScale(6, java.math.RoundingMode.HALF_UP).doubleValue()

  /** Spark SQL's double ordering (SQLOrderingUtil semantics): IEEE </>
    * first — so -0.0 TIES 0.0, unlike java.lang.Double.compare /
    * TotalOrdering which would rank -0.0 below and break ties
    * differently than the engine's array_max/array_sort — with NaN
    * above everything and NaN == NaN. The engine's own kernels
    * (PqOps.cmpSql, TopKBuf's zero normalization) hold the same
    * contract. */
  private val D: Ordering[Double] = new Ordering[Double] {
    def compare(x: Double, y: Double): Int =
      if (x < y) -1
      else if (x > y) 1
      else if (x.isNaN) { if (y.isNaN) 0 else 1 }
      else if (y.isNaN) -1
      else 0
  }

  // ---- q_dedup_minhash ---------------------------------------------------
  /** Expected (doc_a, doc_b, n_bands) rows: minhash signatures via the
    * bit-identical Seq twin, banded into (band, key) buckets with the
    * xxhash64 band key, pair counts accumulated in plain maps — the
    * sequential re-derivation of the engine's banded self-join. */
  def minhashRows(docs: Seq[(Long, String)]): Seq[(Long, Long, Long)] = {
    val sigs = docs.flatMap { case (id, text) =>
      val w = splitWords(normText(text))
      if (w.length >= 3)
        Some(id -> DocHashes.minhashSeq(w.toSeq, 3, Dedup.NumHashes))
      else None
    }
    val buckets = mutable.Map.empty[(Int, Long), mutable.ArrayBuffer[Long]]
    sigs.foreach { case (id, sig) =>
      (0 until Dedup.Bands).foreach { b =>
        val key = xxhash64((b * 4 until (b + 1) * 4).map(sig(_)))
        buckets.getOrElseUpdate((b, key), mutable.ArrayBuffer.empty) += id
      }
    }
    val nBands = mutable.Map.empty[(Long, Long), Long]
    buckets.values.foreach { ids =>
      val sorted = ids.sorted
      for (i <- sorted.indices; j <- i + 1 until sorted.length)
        nBands.updateWith((sorted(i), sorted(j)))(c => Some(c.getOrElse(0L) + 1L))
    }
    nBands.toSeq.map { case ((a, b), n) => (a, b, n) }.sorted
  }

  // ---- q_dedup_simhash ---------------------------------------------------
  /** Expected (doc_a, doc_b, hamming) rows: simhash fingerprints via the
    * Seq twin, 4×16-bit bands, pairs sharing any band with Hamming ≤ 3. */
  /** THE 4×16-bit banded Hamming pair sweep — ONE definition for every
    * 64-bit-fingerprint twin (simhash text, dHash media): bucket by each
    * 16-bit band, pair within buckets, keep Hamming ≤ 3. Two drifting
    * copies of the band arithmetic would let one twin silently check old
    * semantics after a band-width change. */
  private def bandedHammingPairs(fps: Seq[(Long, Long)]): Seq[(Long, Long, Int)] = {
    val buckets = mutable.Map.empty[(Int, Long), mutable.ArrayBuffer[(Long, Long)]]
    fps.foreach { case (id, fp) =>
      (0 until 4).foreach { b =>
        val key = (fp >> (b * 16)) & 0xFFFFL
        buckets.getOrElseUpdate((b, key), mutable.ArrayBuffer.empty) += ((id, fp))
      }
    }
    val pairs = mutable.Set.empty[(Long, Long, Int)]
    buckets.values.foreach { members =>
      val sorted = members.sortBy(_._1)
      for (i <- sorted.indices; j <- i + 1 until sorted.length) {
        val ((a, fa), (b, fb)) = (sorted(i), sorted(j))
        val h = java.lang.Long.bitCount(fa ^ fb)
        if (h <= 3) pairs += ((a, b, h))
      }
    }
    pairs.toSeq.sorted
  }

  def simhashRows(docs: Seq[(Long, String)]): Seq[(Long, Long, Int)] =
    bandedHammingPairs(docs.map { case (id, text) =>
      id -> DocHashes.simhashSeq(splitWords(normText(text)).toSeq, 1)
    })

  // ---- q_image_neardup ---------------------------------------------------
  /** Expected (media_a, media_b, hamming) rows: per-record perceptual
    * hashes via the SHARED [[graft.operators.Multimodal.perceptualHash]]
    * (the DocHashes contract — one fingerprint primitive for both faces),
    * then the [[simhashRows]] banding sweep re-derived sequentially — the
    * banded join is what the hash compare verifies. */
  def imageNeardupRows(docs: Seq[(Long, String)]): Seq[(Long, Long, Int)] = {
    import graft.operators.Multimodal
    val fps = docs.flatMap { case (id, text) =>
      val payload = text.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val kind = if (id % 2 == 0) "image" else "audio" // asMedia's routing
      val base = Seq(
        id -> Multimodal.perceptualHash(Multimodal.MediaRecord(id, payload, kind)))
      // mediaWithReencodes' planted variants, same shared construction
      if (id % 50 == 0)
        base :+ ((id + Multimodal.ReencodeIdOffset) -> Multimodal.perceptualHash(
          Multimodal.MediaRecord(id + Multimodal.ReencodeIdOffset,
            Multimodal.reencodeVariant(payload), kind)))
      else base
    }
    bandedHammingPairs(fps)
  }

  // ---- q_token_bpe -------------------------------------------------------
  /** Expected (doc_id, n_words, n_chars, n_bpe_tokens, chars_per_token)
    * rows: word counts accumulated sequentially over the collected corpus,
    * the top-[[graft.operators.TextOps.BpeTrainVocab]] slice by (count
    * desc, word asc), merges trained through the SHARED
    * [[graft.functions.Bpe.trainMerges]] and applied through the shared
    * [[graft.functions.Bpe.encodeWord]] (the trainQuantizerOnSample /
    * DocHashes contract — the twin must train and apply the same
    * tokenizer or the differential tests nothing); the distributed word
    * counting, the merge-table broadcast, and the per-doc aggregation are
    * what the hash compare verifies. */
  def bpeRows(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long, Option[Double])] =
    bpeRowsTrainedOn(docs, docs)

  /** [[bpeRows]] with the tokenizer trained on a SUBSET — the versioned
    * store's as-of twin (q_bpe_asof): the merge table is frozen at the
    * training slice, the encode runs over the full corpus. */
  def bpeRowsTrainedOn(docs: Seq[(Long, String)],
      trainDocs: Seq[(Long, String)]): Seq[(Long, Long, Long, Long, Option[Double])] = {
    import graft.functions.Bpe
    import graft.operators.TextOps
    def wordsOf(ds: Seq[(Long, String)]) = ds.map { case (id, t) =>
      (id, splitWords(normText(t)).filter(_.nonEmpty).toSeq)
    }
    val wordsPerDoc = wordsOf(docs)
    val wc = mutable.Map.empty[String, Long]
    wordsOf(trainDocs).foreach { case (_, ws) =>
      ws.foreach(w => wc.updateWith(w)(o => Some(o.getOrElse(0L) + 1L)))
    }
    val top = wc.toSeq.sortBy { case (w, c) => (-c, w) }.take(TextOps.BpeTrainVocab)
    val table = new Bpe.MergeTable(Bpe.trainMerges(top, TextOps.BpeNumMerges))
    wordsPerDoc.map { case (id, ws) =>
      val nTok = ws.iterator.map(w => Bpe.encodeWord(w, table).length.toLong).sum
      val nChars = ws.iterator.map(_.length.toLong).sum
      val cpt = if (nTok > 0) Some(round6(nChars.toDouble / nTok)) else None
      (id, ws.length.toLong, nChars, nTok, cpt)
    }.sortBy(_._1)
  }

  // ---- q_compress_ratio --------------------------------------------------
  /** Expected (doc_id, n_bytes, deflate_len, compress_ratio, flagged)
    * rows. The deflate loop here is INDEPENDENT of
    * [[graft.functions.Zlib.deflateLen]] — fresh Deflater per row, a
    * deliberately different sink size — sharing only the level/nowrap
    * contract constants, so a pooling or buffer-management bug in the
    * engine's per-thread stream shows up as a hash mismatch. */
  def compressRows(docs: Seq[(Long, String)]): Seq[(Long, Long, Long, Option[Double], Int)] = {
    import graft.operators.TextOps
    docs.map { case (id, t) =>
      val bytes = t.getBytes(java.nio.charset.StandardCharsets.UTF_8)
      val d = new java.util.zip.Deflater(graft.functions.Zlib.Level, true)
      d.setInput(bytes); d.finish()
      val buf = new Array[Byte](997)
      var total = 0L
      while (!d.finished()) total += d.deflate(buf)
      d.end()
      val ratio = if (bytes.length > 0) Some(round6(total.toDouble / bytes.length)) else None
      val flagged = ratio match {
        case Some(r) =>
          if (r < TextOps.CompressRatioMin || r > TextOps.CompressRatioMax) 1 else 0
        case None => 1
      }
      (id, bytes.length.toLong, total, ratio, flagged)
    }.sortBy(_._1)
  }

  // ---- q_ann_ivf / q_ivf_probe -------------------------------------------
  /** Expected (q_id, rank, neighbor_id, cosine) rows for the IVF tier —
    * ONE artifact for both queries, because the stored probe is DEFINED
    * to return what the in-query IVF returns (materializing the index
    * must not change a neighbor; SimilaritySpec asserts the two engines
    * agree verbatim, this generator pins what they agree ON).
    *
    * Re-derives: the xxhash64-ordered training sample, quantizer training
    * (via the shared [[Similarity.trainQuantizerOnSample]] — see the
    * independence contract above), nearest-list corpus assignment with
    * the engine's (score, list_id) lexicographic argmax, per-query
    * probe-list top-5, probe-pruned scoring, and window ranking with
    * Spark's total double ordering — NaN-scored degenerate queries order
    * identically by construction. */
  /** (id, double vector, norm) triples — the shared first step of every
    * embedding twin. Zero-norm vectors FAIL FAST here: the engine's
    * cosine is a division, and under the verify session's ANSI default a
    * zero divisor throws before any row materializes (SimilaritySpec's
    * zero-norm case pins that) — a twin that divided on the driver would
    * instead produce NaN rows the engine never emits. NaN COMPONENTS are
    * different: the norm is NaN (non-zero), the division succeeds, and
    * the NaN cosine flows through both faces under the same total
    * ordering — those stay in. */
  private def normed(embs: Seq[(Long, Array[Float])]): Seq[(Long, Array[Double], Double)] =
    embs.map { case (id, e) =>
      val d = e.map(_.toDouble)
      val n = math.sqrt(Similarity.ddot(d, d))
      require(n != 0.0,
        s"vec_id=$id has zero norm: the engine's ANSI division fails fast; the twin mirrors it")
      (id, d, n)
    }

  /** The engine's quantizer over a normed corpus: the xxhash64-ordered
    * training sample fed through the shared
    * [[Similarity.trainQuantizerOnSample]] (see the independence
    * contract) — one derivation for the IVF and semantic-dedup twins, as
    * the engine trains one quantizer for both faces. */
  private def quantizerFor(
      withNrm: Seq[(Long, Array[Double], Double)]): Array[(Int, Array[Double], Double)] =
    Similarity.trainQuantizerOnSample(withNrm
      .sortBy { case (id, _, _) => (XXH64.hashLong(id, 42L), id) }
      .take(Similarity.IvfSeedSample)
      .map { case (_, d, n) => d.map(_ / n) }
      .toArray)

  private val byScore = Ordering.Tuple2(D, Ordering.Int)

  def ivfRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Long, Long, Double)] = {
    val withNrm = normed(embs)
    ivfRowsOver(withNrm, withNrm)
  }

  /** [[ivfRows]] for the AS-OF scenario (q_ivf_asof): the quantizer
    * trains on the BOOTSTRAP corpus (vec_id % 10 ≠ 5 — including the
    * vectors later retracted, because retraction never retrains the
    * frozen quantizer; see `Similarity.probeIvfIndexAsOf`), while the
    * served corpus and query slice are the as-of SURVIVORS (bootstrap
    * minus % 7 = 3). The train/serve split is the twin's whole point —
    * a generator that retrained on the survivors would assert centroids
    * the store never held. */
  def ivfAsofRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Long, Long, Double)] = {
    val boot = normed(embs.filter(_._1 % 10 != 5))
    ivfRowsOver(boot, boot.filter(_._1 % 7 != 3))
  }

  /** Recall@5 of the IVF tier against EXACT top-5 (q_ivf_recall's
    * twin): the IVF side reuses [[ivfRowsOver]] (the shared-quantizer
    * contract — the twin must rank under the centroids the engine
    * trains, or the differential tests nothing), while the EXACT side
    * is re-derived here as a full sequential scan per probe query, so a
    * regression in either the engine's list pruning or its exact tier
    * moves the measured recall and fails the hash gate. */
  def ivfRecallRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Double)] = {
    val withNrm = normed(embs)
    recallRowsOf(withNrm, ivfRowsOver(withNrm, withNrm).map(r => (r._1, r._3)).toSet)
  }

  /** Recall@5 of the PQ (ADC-scored) tier vs exact (q_pq_recall's twin)
    * — completes the tier trio with [[ivfRecallRows]]; the approximate
    * side reuses [[pqRows]] under the shared codebook trainer. */
  def pqRecallRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Double)] =
    recallRowsOf(normed(embs), pqRows(embs).map(r => (r._1, r._3)).toSet)

  /** Sequential exact-cosine top-5 rows (the brute tier's twin, and the
    * planner fallback's expected artifact). Same probe slice, rounding,
    * and (cosine desc, id) tie-break as every other tier twin. */
  def bruteRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Long, Long, Double)] = {
    val withNrm = normed(embs)
    withNrm.filter(_._1 % 100 == 0).flatMap { case (qid, qd, qn) =>
      withNrm.iterator.filter(_._1 != qid)
        .map { case (nid, nd, nn) => (round6(Similarity.ddot(qd, nd) / (qn * nn)), nid) }
        .toSeq.sorted(Ordering.Tuple2(D.reverse, Ordering.Long))
        .take(5).zipWithIndex
        .map { case ((c, nid), i) => (qid, (i + 1).toLong, nid, c) }
    }.sortBy(r => (r._1, r._2))
  }

  /** Sequential multi-probe sign-LSH top-5 rows (q_ann_lsh's twin for
    * the planner): buckets from the shared [[Similarity.planeComponent]]
    * hyperplanes, each query probing its own bucket plus every
    * Hamming-1 neighbor — exactly the served face's candidate set. */
  def lshRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Long, Long, Double)] = {
    val withNrm = normed(embs)
    val planes = (0 until Similarity.AnnPlanes).map(p =>
      (0 until Similarity.Dim).map(d => Similarity.planeComponent(p, d)).toArray)
    def bucketOf(d: Array[Double]): Long =
      planes.zipWithIndex.map { case (pl, k) =>
        if (Similarity.ddot(d, pl) > 0) 1L << k else 0L }.sum
    val buckets = withNrm.map { case (id, d, _) => id -> bucketOf(d) }.toMap
    withNrm.filter(_._1 % 100 == 0).flatMap { case (qid, qd, qn) =>
      val probes = (Seq(0L) ++ (0 until Similarity.AnnPlanes).map(p => 1L << p))
        .map(buckets(qid) ^ _).toSet
      withNrm.iterator
        .filter { case (nid, _, _) => nid != qid && probes(buckets(nid)) }
        .map { case (nid, nd, nn) => (round6(Similarity.ddot(qd, nd) / (qn * nn)), nid) }
        .toSeq.sorted(Ordering.Tuple2(D.reverse, Ordering.Long))
        .take(5).zipWithIndex
        .map { case ((c, nid), i) => (qid, (i + 1).toLong, nid, c) }
    }.sortBy(r => (r._1, r._2))
  }

  /** Mean recall@5 per serving tier from the SEQUENTIAL twins — the
    * oracle side of the planner's evidence. Means round to 6 exactly as
    * the engine's [[Similarity.measuredTierRecall]] does. */
  def annPlanMeasured(embs: Seq[(Long, Array[Float])]): Map[String, Double] = {
    val withNrm = normed(embs)
    def mean(rows: Seq[(Long, Long, Long, Double)]): Double = {
      val rec = recallRowsOf(withNrm, rows.map(r => (r._1, r._3)).toSet)
      round6(rec.map(_._2).sum / rec.size)
    }
    Map(
      "lsh"           -> mean(lshRows(embs)),
      "ivf"           -> mean(ivfRows(embs)),
      "pq"            -> mean(pqRows(embs)),
      "pq_refine"     -> mean(pqRefineRows(embs)),
      "ivf_pq"        -> mean(ivfPqRows(embs)),
      "ivf_pq_refine" -> mean(ivfPqRefineRows(embs)))
  }

  /** The twin's measured per-tier cost-bytes: candidate volumes
    * re-derived sequentially (LSH bucket histogram + Hamming-1 probes;
    * IVF assignments + top-[[Similarity.IvfProbes]] probed lists under
    * the shared quantizer), priced through the SHARED
    * [[Similarity.annTierCostMeasured]] formula — so a pruning
    * regression in either engine's probe moves the cost column, flips
    * the planner, and fails the hash gate. */
  def annPlanCosts(embs: Seq[(Long, Array[Float])]): Map[String, Double] = {
    val withNrm = normed(embs)
    val n = withNrm.size.toLong
    val qs = withNrm.filter(_._1 % 100 == 0)
    val nQ = qs.size.toLong
    // LSH: sign buckets under the shared hyperplanes, probes = own
    // bucket + every Hamming-1 neighbor (the engine's probeBuckets)
    val planes = (0 until Similarity.AnnPlanes).map(p =>
      (0 until Similarity.Dim).map(d => Similarity.planeComponent(p, d)).toArray)
    def bucketOf(d: Array[Double]): Long =
      planes.zipWithIndex.map { case (pl, k) =>
        if (Similarity.ddot(d, pl) > 0) 1L << k else 0L }.sum
    val hist = mutable.Map.empty[Long, Long]
    withNrm.foreach { case (_, d, _) =>
      hist.updateWith(bucketOf(d))(o => Some(o.getOrElse(0L) + 1L)) }
    val lshCand = qs.map { case (_, d, _) =>
      val qb = bucketOf(d)
      (Seq(0L) ++ (0 until Similarity.AnnPlanes).map(p => 1L << p))
        .map(m => hist.getOrElse(qb ^ m, 0L)).sum
    }.sum - nQ
    // IVF: list histogram under the shared quantizer + per-query
    // probed-list sets (same (score, list) orderings as ivfRowsOver)
    val cents = quantizerFor(withNrm)
    def scores(d: Array[Double], nrm: Double): Seq[(Double, Int)] =
      cents.toSeq.map { case (i, c, cn) => (Similarity.ddot(d, c) / (nrm * cn), i) }
    val lhist = mutable.Map.empty[Int, Long]
    withNrm.foreach { case (_, d, nr) =>
      lhist.updateWith(scores(d, nr).max(byScore)._2)(o => Some(o.getOrElse(0L) + 1L)) }
    val ivfCand = qs.map { case (_, d, nr) =>
      scores(d, nr).sorted(byScore).reverse.take(Similarity.IvfProbes)
        .map { case (_, l) => lhist.getOrElse(l, 0L) }.sum
    }.sum - nQ
    (Similarity.annTierFaces.keySet + "brute").map(t =>
      t -> Similarity.annTierCostMeasured(t, n,
        lshCand.toDouble / nQ, ivfCand.toDouble / nQ)).toMap
  }

  /** ONE exact-side body for every recall twin: full sequential scan
    * per probe query, (cosine desc, id) top-5, hit-rate against the
    * approximate tier's (q_id, neighbor_id) pairs. */
  private def recallRowsOf(withNrm: Seq[(Long, Array[Double], Double)],
      approxPairs: Set[(Long, Long)]): Seq[(Long, Double)] =
    withNrm.filter(_._1 % 100 == 0).map { case (qid, qd, qn) =>
      val exact = withNrm.iterator.filter(_._1 != qid)
        .map { case (nid, nd, nn) => (round6(Similarity.ddot(qd, nd) / (qn * nn)), nid) }
        .toSeq.sorted(Ordering.Tuple2(D.reverse, Ordering.Long))
        .take(5).map(_._2)
      val hit = exact.count(nid => approxPairs((qid, nid)))
      (qid, round6(hit.toDouble / exact.size))
    }.sortBy(_._1)

  /** The shared IVF ranking body: quantizer from `train`, assignment /
    * probing / top-5 over `serve`. */
  private def ivfRowsOver(train: Seq[(Long, Array[Double], Double)],
      serve: Seq[(Long, Array[Double], Double)]): Seq[(Long, Long, Long, Double)] = {
    val cents = quantizerFor(train)
    def scores(d: Array[Double], nrm: Double): Seq[(Double, Int)] =
      cents.toSeq.map { case (i, c, cn) => (Similarity.ddot(d, c) / (nrm * cn), i) }
    val corpus = serve.map { case (id, d, n) =>
      (id, d, n, scores(d, n).max(byScore)._2)
    }
    serve.filter(_._1 % 100 == 0).flatMap { case (qid, qd, qn) =>
      val probed = scores(qd, qn).sorted(byScore).reverse
        .take(Similarity.IvfProbes).map(_._2).toSet
      corpus.iterator
        .filter { case (nid, _, _, list) => probed(list) && nid != qid }
        .map { case (nid, nd, nn, _) => (round6(Similarity.ddot(qd, nd) / (qn * nn)), nid) }
        .toSeq
        .sorted(Ordering.Tuple2(D.reverse, Ordering.Long))
        .take(5)
        .zipWithIndex
        .map { case ((cos, nid), r) => (qid, (r + 1).toLong, nid, cos) }
    }.sortBy(r => (r._1, r._2))
  }

  // ---- q_ann_pq ----------------------------------------------------------
  /** Expected (q_id, rank, neighbor_id, cosine) rows for the PQ tier.
    * Shares ONLY [[Similarity.trainPqOnSample]] (+ [[Similarity.ddot]] and
    * the cn2 scalars) with the engine — the codebook-training contract;
    * sample selection, per-vector encoding (argmax ties to the larger
    * code), reconstruction norms, the ADC lookup-table sum in subspace
    * order, and the top-5 ranking are re-derived sequentially here, so
    * any distributed-stage drift in the PQ scan is a hash mismatch. */
  /** The trained PQ model + its per-vector kernels — ONE definition for
    * the pure-PQ and IVF-PQ twins (shared sample selection, encode
    * argmax with ties to the larger code, recon norm, ADC LUT): two
    * drifting copies of the encode chain would let one twin silently
    * check an old formula. */
  private final class PqTwinModel(embs: Seq[(Long, Array[Float])]) {
    private val sample = embs
      .sortBy { case (id, _) => (XXH64.hashLong(id, 42L), id) }
      .take(Similarity.IvfSeedSample)
      .map(_._2.map(_.toDouble)).toArray
    private val cb = Similarity.trainPqOnSample(sample)
    private val cn2 = Similarity.pqCn2(cb)
    private val m = Similarity.PqSubspaces
    private val sd = Similarity.PqSubDim
    private def subv(v: Array[Double], i: Int): Array[Double] =
      v.slice(i * sd, (i + 1) * sd)
    def codes(d: Array[Double]): IndexedSeq[Int] =
      (0 until m).map { i =>
        val x = subv(d, i)
        cb(i).indices.map(k => (Similarity.ddot(x, cb(i)(k)) - cn2(i)(k) / 2, k))
          .max(byScore)._2
      }
    // left fold in subspace order — the engine's reduce(_ + _)
    def recon(codes: IndexedSeq[Int]): Double =
      math.sqrt((0 until m).map(i => cn2(i)(codes(i))).sum)
    def lut(qd: Array[Double]): IndexedSeq[Array[Double]] =
      (0 until m).map(i => cb(i).map(c => Similarity.ddot(subv(qd, i), c)))
    def adc(lut: IndexedSeq[Array[Double]], codes: IndexedSeq[Int]): Double =
      (0 until m).map(i => lut(i)(codes(i))).sum
  }

  def pqRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Long, Long, Double)] = {
    val pq = new PqTwinModel(embs)
    // corpus rows do NOT go through normed(): pure PQ never divides by a
    // corpus vector's own norm (scoring uses recon_nrm), so the engine
    // tolerates a zero-norm non-query row — a require here would abort
    // the twin where the engine succeeds. Only QUERY vectors divide by
    // their norm, and only they mirror the ANSI fail-fast below.
    val raw = embs.map { case (id, e) => (id, e.map(_.toDouble)) }
    val corpus = raw.map { case (id, d) =>
      val codes = pq.codes(d)
      (id, codes, pq.recon(codes))
    }
    raw.filter(_._1 % 100 == 0).map { case (qid, qd) =>
      val qn = math.sqrt(Similarity.ddot(qd, qd))
      require(qn != 0.0,
        s"vec_id=$qid has zero norm: the engine's ANSI division fails fast; the twin mirrors it")
      (qid, qd, qn)
    }.flatMap { case (qid, qd, qn) =>
      val lut = pq.lut(qd)
      corpus.iterator
        .filter(_._1 != qid)
        .map { case (nid, codes, recon) =>
          (round6(pq.adc(lut, codes) / (qn * recon)), nid)
        }
        .toSeq
        .sorted(Ordering.Tuple2(D.reverse, Ordering.Long))
        .take(5)
        .zipWithIndex
        .map { case ((cos, nid), r) => (qid, (r + 1).toLong, nid, cos) }
    }.sortBy(r => (r._1, r._2))
  }

  // ---- q_pq_refine ---------------------------------------------------------
  /** Expected rows for the PQ refinement face: [[pqRows]]' ADC scan
    * deepened to [[Similarity.PqRefineR]] candidates, then EXACT cosine
    * re-ranks just that shortlist to top-5 — both stages re-derived
    * sequentially, so drift in the shortlist depth, the ADC scoring OR
    * the exact re-rank is a hash mismatch. Corpus rows skip normed()
    * like [[pqRows]] (stage 1 never divides by a corpus norm); in
    * stage 2 a zero-norm shortlisted row never ranks — the engine's
    * graft_topk null-drop contract, mirrored. */
  def pqRefineRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Long, Long, Double)] = {
    val pq = new PqTwinModel(embs)
    val raw = embs.map { case (id, e) => (id, e.map(_.toDouble)) }
    val corpus = raw.map { case (id, d) =>
      val codes = pq.codes(d)
      (id, d, codes, pq.recon(codes))
    }
    raw.filter(_._1 % 100 == 0).map { case (qid, qd) =>
      val qn = math.sqrt(Similarity.ddot(qd, qd))
      require(qn != 0.0,
        s"vec_id=$qid has zero norm: the engine's ANSI division fails fast; the twin mirrors it")
      (qid, qd, qn)
    }.flatMap { case (qid, qd, qn) =>
      val lut = pq.lut(qd)
      val shortlist = corpus.iterator
        .filter(_._1 != qid)
        .map { case (nid, _, codes, recon) =>
          (round6(pq.adc(lut, codes) / (qn * recon)), nid)
        }
        .toSeq
        .sorted(Ordering.Tuple2(D.reverse, Ordering.Long))
        .take(Similarity.PqRefineR).map(_._2).toSet
      corpus.iterator
        .filter { case (nid, nd, _, _) =>
          shortlist(nid) && Similarity.ddot(nd, nd) != 0.0
        }
        .map { case (nid, nd, _, _) =>
          val nn = math.sqrt(Similarity.ddot(nd, nd))
          (round6(Similarity.ddot(qd, nd) / (qn * nn)), nid)
        }
        .toSeq
        .sorted(Ordering.Tuple2(D.reverse, Ordering.Long))
        .take(5)
        .zipWithIndex
        .map { case ((cos, nid), r) => (qid, (r + 1).toLong, nid, cos) }
    }.sortBy(r => (r._1, r._2))
  }

  // ---- q_ivf_pq ----------------------------------------------------------
  /** Expected rows for the IVF-PQ composition: the [[ivfRows]] probe
    * pipeline (shared coarse quantizer, probed-list filter) scored the
    * [[pqRows]] way (shared codebook, ADC sum) — re-derived sequentially
    * end-to-end, so drift in EITHER stage of the composed scan is a hash
    * mismatch. */
  def ivfPqRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Long, Long, Double)] = {
    // IVF assignment divides every corpus vector by its own norm (the
    // engine's ivfListId), so HERE the all-rows normed() fail-fast is
    // the correct mirror — unlike pure [[pqRows]]
    val withNrm = normed(embs)
    val cents = quantizerFor(withNrm)
    def scores(d: Array[Double], nrm: Double): Seq[(Double, Int)] =
      cents.toSeq.map { case (i, c, cn) => (Similarity.ddot(d, c) / (nrm * cn), i) }
    val pq = new PqTwinModel(embs)
    val corpus = withNrm.map { case (id, d, n) =>
      val codes = pq.codes(d)
      (id, codes, pq.recon(codes), scores(d, n).max(byScore)._2)
    }
    withNrm.filter(_._1 % 100 == 0).flatMap { case (qid, qd, qn) =>
      val probed = scores(qd, qn).sorted(byScore).reverse
        .take(Similarity.IvfProbes).map(_._2).toSet
      val lut = pq.lut(qd)
      corpus.iterator
        .filter { case (nid, _, _, list) => probed(list) && nid != qid }
        .map { case (nid, codes, recon, _) =>
          (round6(pq.adc(lut, codes) / (qn * recon)), nid)
        }
        .toSeq
        .sorted(Ordering.Tuple2(D.reverse, Ordering.Long))
        .take(5)
        .zipWithIndex
        .map { case ((cos, nid), r) => (qid, (r + 1).toLong, nid, cos) }
    }.sortBy(r => (r._1, r._2))
  }

  // ---- q_ivf_pq_refine -----------------------------------------------------
  /** Expected rows for the COMPLETE serve path: [[ivfPqRows]]' probe
    * pipeline with the ADC top-5 deepened to [[Similarity.PqRefineR]],
    * then EXACT cosine re-ranking the shortlist to top-5 — all three
    * stages (coarse probe, ADC shortlist, exact refine) re-derived
    * sequentially under the shared trainers. */
  def ivfPqRefineRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Long, Long, Double)] = {
    val withNrm = normed(embs)
    val cents = quantizerFor(withNrm)
    def scores(d: Array[Double], nrm: Double): Seq[(Double, Int)] =
      cents.toSeq.map { case (i, c, cn) => (Similarity.ddot(d, c) / (nrm * cn), i) }
    val pq = new PqTwinModel(embs)
    val corpus = withNrm.map { case (id, d, n) =>
      val codes = pq.codes(d)
      (id, d, n, codes, pq.recon(codes), scores(d, n).max(byScore)._2)
    }
    withNrm.filter(_._1 % 100 == 0).flatMap { case (qid, qd, qn) =>
      val probed = scores(qd, qn).sorted(byScore).reverse
        .take(Similarity.IvfProbes).map(_._2).toSet
      val lut = pq.lut(qd)
      val shortlist = corpus.iterator
        .filter { case (nid, _, _, _, _, list) => probed(list) && nid != qid }
        .map { case (nid, _, _, codes, recon, _) =>
          (round6(pq.adc(lut, codes) / (qn * recon)), nid)
        }
        .toSeq
        .sorted(Ordering.Tuple2(D.reverse, Ordering.Long))
        .take(Similarity.PqRefineR).map(_._2).toSet
      corpus.iterator
        .filter { case (nid, _, _, _, _, _) => shortlist(nid) }
        .map { case (nid, nd, nn, _, _, _) =>
          (round6(Similarity.ddot(qd, nd) / (qn * nn)), nid)
        }
        .toSeq
        .sorted(Ordering.Tuple2(D.reverse, Ordering.Long))
        .take(5)
        .zipWithIndex
        .map { case ((cos, nid), r) => (qid, (r + 1).toLong, nid, cos) }
    }.sortBy(r => (r._1, r._2))
  }

  // ---- q_dedup_semantic --------------------------------------------------
  /** Expected (drop_id, keep_id, list_id, cosine) rows for the
    * SemDeDup-style semantic dedup: same quantizer + nearest-list
    * assignment as [[ivfRows]] (one quantizer for every embedding face),
    * then a plain sequential all-pairs sweep WITHIN each list — the
    * re-derivation of the engine's blocked pair join, which exists only
    * to parallelize exactly this pair set. Spark comparison semantics
    * replayed explicitly: a NaN cosine (NaN embedding COMPONENTS — a
    * zero-norm vector fails fast in [[normed]], mirroring the engine's
    * ANSI division) passes the `>= tau` filter (Spark's NaN is greater
    * than any value) and wins the best-keeper max via the total double
    * ordering. */
  def semanticRows(embs: Seq[(Long, Array[Float])]): Seq[(Long, Long, Int, Double)] = {
    val withNrm = normed(embs)
    val cents = quantizerFor(withNrm)
    def listOf(d: Array[Double], n: Double): Int =
      cents.toSeq.map { case (i, c, cn) => (Similarity.ddot(d, c) / (n * cn), i) }
        .max(byScore)._2
    // drop_id -> (cosine, keep_id, list_id), maximized by (cosine, -keep)
    val best = mutable.Map.empty[Long, (Double, Long, Int)]
    withNrm.map { case (id, d, n) => (id, d, n, listOf(d, n)) }
      .groupBy(_._4).values.foreach { members =>
        val sorted = members.sortBy(_._1)
        for (i <- sorted.indices; j <- i + 1 until sorted.length) {
          val (ida, da, na, la) = sorted(i)
          val (idb, db, nb, _) = sorted(j)
          val cos = round6(Similarity.ddot(da, db) / (na * nb))
          if (java.lang.Double.isNaN(cos) || cos >= Similarity.SemDedupTau) {
            best.updateWith(idb) {
              case Some((c, k, l)) =>
                val cmp = D.compare(c, cos)
                if (cmp > 0 || (cmp == 0 && k <= ida)) Some((c, k, l))
                else Some((cos, ida, l))
              case None => Some((cos, ida, la))
            }
          }
        }
      }
    best.toSeq.map { case (drop, (cos, keep, list)) => (drop, keep, list, cos) }
      .sortBy(_._1)
  }

  // ---- q_dsir_bucket / q_dsir_probe / q_dsir_asof ------------------------
  /** Spark's xxhash64 over one string column: XXH64 over the UTF-8
    * bytes, seed 42 (DocHashes' string-hash contract). */
  private def xxhash64Str(v: String): Long = {
    val u = UTF8String.fromString(v)
    XXH64.hashUnsafeBytes(u.getBaseObject, u.getBaseOffset, u.numBytes, 42L)
  }

  /** A doc's DSIR bucket-feature stream: the lmGrams tokenization
    * (normText → single-space split → bigrams over docs with ≥2 words)
    * hashed into [[graft.operators.TextOps.DsirBuckets]] buckets with
    * Spark's pmod semantics. */
  private def dsirFeats(text: String): Seq[Long] = {
    val b = graft.operators.TextOps.DsirBuckets.toLong
    val w = splitWords(normText(text))
    if (w.length < 2) Nil
    else w.iterator.sliding(2).withPartial(false)
      .map { p => val h = xxhash64Str(p.head + " " + p(1)); ((h % b) + b) % b }
      .toSeq
  }

  /** Per-doc (n_bigrams, dsir_weight) under a model trained on the
    * `trainFilter` slice (target = lang "en" within it), scoring ALL
    * docs with left-join OOV semantics — the sequential re-derivation
    * of the engine's two count shuffles, the broadcast scalar frame,
    * and the fixed-point weight sum. */
  private def dsirScoredRowsOver(docs: Seq[(Long, String, String)],
      trainFilter: Long => Boolean): Seq[(Long, Long, Double)] = {
    val cs = mutable.Map.empty[Long, Long]
    val ct = mutable.Map.empty[Long, Long]
    docs.filter(d => trainFilter(d._1)).foreach { case (_, lang, text) =>
      dsirFeats(text).foreach { f =>
        cs.updateWith(f)(o => Some(o.getOrElse(0L) + 1L))
        if (lang == "en") ct.updateWith(f)(o => Some(o.getOrElse(0L) + 1L))
      }
    }
    val ns = cs.values.sum; val nt = ct.values.sum; val v2 = cs.size.toLong
    docs.flatMap { case (id, _, text) =>
      val fs = dsirFeats(text)
      if (fs.isEmpty) None
      else {
        val sumFp = fs.iterator.map { f =>
          // the engine's round((logdiff) * 1e6) — HALF_UP at scale 0
          val d = (math.log((ct.getOrElse(f, 0L) + 1.0) / (nt + v2)) -
            math.log((cs.getOrElse(f, 0L) + 1.0) / (ns + v2))) * 1e6
          java.math.BigDecimal.valueOf(d)
            .setScale(0, java.math.RoundingMode.HALF_UP).longValue()
        }.sum
        Some((id, fs.size.toLong, round6(sumFp / 1e6)))
      }
    }.sortBy(_._1)
  }

  /** Expected (doc_id, n_bigrams, dsir_weight, sel_rank) rows for the
    * bucketed selection faces (q_dsir_bucket in-query; q_dsir_probe
    * serves the same rows from the stored model): model trained on the
    * full corpus, top-100 by (weight desc, doc_id). */
  def dsirBucketRows(docs: Seq[(Long, String, String)]): Seq[(Long, Long, Double, Long)] =
    dsirScoredRowsOver(docs, _ => true)
      .sortBy { case (id, _, w) => (-w, id) }
      .take(100).zipWithIndex
      .map { case ((id, n, w), i) => (id, n, w, (i + 1).toLong) }
      .sortBy(_._1)

  /** Expected (doc_id, n_bigrams, dsir_weight) rows for the as-of face:
    * the model is frozen at the bootstrap (doc_id % 10 ≠ 5 — batch 7's
    * docs must not shift it), every doc scores (late docs' novel grams
    * take the OOV floor, never drop). */
  def dsirAsofRows(docs: Seq[(Long, String, String)]): Seq[(Long, Long, Double)] =
    dsirScoredRowsOver(docs, _ % 10 != 5)

  /** Expected rows for the retraction face: a model trained on a corpus
    * the retracted docs (% 7 = 3) were never part of, scoring the
    * survivors — retracted ≡ never-trained, the model-retraction
    * contract. */
  def dsirRetractRows(docs: Seq[(Long, String, String)]): Seq[(Long, Long, Double)] =
    dsirScoredRowsOver(docs.filterNot(_._1 % 7 == 3), _ => true)

  // ---- q_kmeans / q_cluster_sample ---------------------------------------
  /** Spark's round(x * 1e6) → long: HALF_UP at scale 0 on the double. */
  private def fpRound(x: Double): Long =
    java.math.BigDecimal.valueOf(x * 1e6)
      .setScale(0, java.math.RoundingMode.HALF_UP).longValue()

  /** The engine's nearest-centroid assignment, sequentially: argmax by
    * (cosine, list id) — array_max's lexicographic struct order. */
  private def assignments(
      embs: Seq[(Long, Array[Float])]): (Seq[(Long, Int, Double)]) = {
    val withNrm = normed(embs)
    val cents = quantizerFor(withNrm)
    withNrm.map { case (id, d, n) =>
      val (sim, list) = cents.toSeq
        .map { case (i, c, cn) => (Similarity.ddot(d, c) / (n * cn), i) }
        .max(byScore)
      (id, list, sim)
    }
  }

  /** Expected (cluster_id, n, mean_sim) rows: the cluster profile with
    * the engine's fixed-point mean (per-member cosine → 1e-6 long →
    * long sum → one rounded division chain). */
  def kmeansRows(embs: Seq[(Long, Array[Float])]): Seq[(Int, Long, Double)] =
    assignments(embs)
      .groupBy(_._2).toSeq
      .map { case (cluster, rows) =>
        val sumFp = rows.map(r => fpRound(r._3)).sum
        (cluster, rows.size.toLong, round6(sumFp / 1e6 / rows.size))
      }
      .sortBy(_._1)

  /** Expected (cluster_id, vec_id) rows: per cluster, the
    * [[Similarity.ClusterSampleK]] members with the highest 32-bit
    * md5-prefix priority (ties by vec_id asc) — the engine's
    * `graft_topk` draw re-derived as a sort. */
  def clusterSampleRows(embs: Seq[(Long, Array[Float])]): Seq[(Int, Long)] = {
    def pri(id: Long): Double = {
      val md = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.lang.Long.parseLong(md.take(4).map(b => f"$b%02x").mkString, 16).toDouble
    }
    assignments(embs)
      .groupBy(_._2).toSeq
      .flatMap { case (cluster, rows) =>
        rows.map(_._1).sortBy(id => (-pri(id), id))
          .take(Similarity.ClusterSampleK)
          .map(id => (cluster, id))
      }
      .sortBy(identity)
  }

  // ---- harness wiring ----------------------------------------------------
  private def sqlQuote(path: String): String = path.replace("'", "''")

  /** Collect the input tables, compute the expected outputs (eleven
    * artifacts serving thirteen oracle entries — the IVF and BPE
    * artifacts each cover their stored face too), write
    * them as parquet under `expectedDir`, and return the `read_parquet`
    * oracle SQL per query name — merged into oracle_sql.json by
    * [[graft.Verify]] (and [[graft.SparkEntry.oracleSqlFor]]), upgrading
    * the differential queries to full rows+schema+hash
    * CORRECTNESS rows. `expectedDir` must outlive this JVM (the driver's
    * DuckDB compare runs after Verify exits), so it lives under the
    * verify outDir — never a TmpStores-registered path. */
  def writeAll(spark: SparkSession, sfDir: String, expectedDir: String): Map[String, String] = {
    import spark.implicits._
    val docs = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1))).toSeq
    val embs = graft.sources.Tables.embeddings(spark, sfDir)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray)).toSeq
    // the DSIR twins need the target-slice column too
    val docs3 = graft.sources.Tables.documents(spark, sfDir)
      .select("doc_id", "lang", "text").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2))).toSeq

    def write(name: String, df: org.apache.spark.sql.DataFrame): String = {
      val path = s"$expectedDir/$name"
      df.coalesce(1).write.mode("overwrite").parquet(path)
      path
    }
    val mh = write("q_dedup_minhash", minhashRows(docs).toDF("doc_a", "doc_b", "n_bands"))
    val sh = write("q_dedup_simhash", simhashRows(docs).toDF("doc_a", "doc_b", "hamming"))
    // one expected artifact for both IVF faces (stored probe ≡ in-query)
    val ivf = write("q_ivf", ivfRows(embs).toDF("q_id", "rank", "neighbor_id", "cosine"))
    val ivfAsof = write("q_ivf_asof",
      ivfAsofRows(embs).toDF("q_id", "rank", "neighbor_id", "cosine"))
    val pq = write("q_ann_pq", pqRows(embs).toDF("q_id", "rank", "neighbor_id", "cosine"))
    val pqRef = write("q_pq_refine",
      pqRefineRows(embs).toDF("q_id", "rank", "neighbor_id", "cosine"))
    val ivfpq = write("q_ivf_pq", ivfPqRows(embs).toDF("q_id", "rank", "neighbor_id", "cosine"))
    val ivfpqRef = write("q_ivf_pq_refine",
      ivfPqRefineRows(embs).toDF("q_id", "rank", "neighbor_id", "cosine"))
    val sem = write("q_dedup_semantic",
      semanticRows(embs).toDF("drop_id", "keep_id", "list_id", "cosine"))
    val bpe = write("q_token_bpe", bpeRows(docs)
      .toDF("doc_id", "n_words", "n_chars", "n_bpe_tokens", "chars_per_token"))
    // the as-of face trains on the early slice (q_provenance's %10 = 5
    // split), encodes the full corpus — see TextOps.qBpeAsof
    val bpeAsof = write("q_bpe_asof",
      bpeRowsTrainedOn(docs, docs.filterNot(_._1 % 10 == 5))
        .toDF("doc_id", "n_words", "n_chars", "n_bpe_tokens", "chars_per_token"))
    val img = write("q_image_neardup",
      imageNeardupRows(docs).toDF("media_a", "media_b", "hamming"))
    val cr = write("q_compress_ratio", compressRows(docs)
      .toDF("doc_id", "n_bytes", "deflate_len", "compress_ratio", "flagged"))
    val ivfRec = write("q_ivf_recall", ivfRecallRows(embs).toDF("q_id", "recall_at_5"))
    val pqRec = write("q_pq_recall", pqRecallRows(embs).toDF("q_id", "recall_at_5"))
    // the planner twin: re-make the tier choice from the SEQUENTIALLY
    // measured recalls (the engine chooses from its Spark-measured
    // ones — only the decision FUNCTION is shared), then replay the
    // chosen tier's expected rows stamped with the choice
    val planChoice = Similarity.chooseAnnTier(annPlanMeasured(embs),
      annPlanCosts(embs), Similarity.AnnPlanRecallTarget)
    val planRows = planChoice match {
      case "brute"         => bruteRows(embs)
      case "lsh"           => lshRows(embs)
      case "ivf"           => ivfRows(embs)
      case "pq"            => pqRows(embs)
      case "pq_refine"     => pqRefineRows(embs)
      case "ivf_pq"        => ivfPqRows(embs)
      case "ivf_pq_refine" => ivfPqRefineRows(embs)
    }
    val plan = write("q_ann_plan", planRows.toDF("q_id", "rank", "neighbor_id", "cosine")
      .withColumn(
        "tier", org.apache.spark.sql.functions.lit(planChoice)))
    // one expected artifact for both bucketed-selection faces (stored
    // probe ≡ in-query, the q_ivf pattern); the as-of face has its own
    val dsirB = write("q_dsir_bucket",
      dsirBucketRows(docs3).toDF("doc_id", "n_bigrams", "dsir_weight", "sel_rank"))
    val dsirA = write("q_dsir_asof",
      dsirAsofRows(docs3).toDF("doc_id", "n_bigrams", "dsir_weight"))
    val dsirR = write("q_dsir_retract",
      dsirRetractRows(docs3).toDF("doc_id", "n_bigrams", "dsir_weight"))
    val km = write("q_kmeans", kmeansRows(embs).toDF("cluster_id", "n", "mean_sim"))
    val cs = write("q_cluster_sample",
      clusterSampleRows(embs).toDF("cluster_id", "vec_id"))

    def sql(path: String, cols: String, order: String): String =
      s"SELECT $cols FROM read_parquet('${sqlQuote(path)}/*.parquet') ORDER BY $order"
    Map(
      "q_dedup_minhash" -> sql(mh, "doc_a, doc_b, n_bands", "doc_a, doc_b"),
      "q_dedup_simhash" -> sql(sh, "doc_a, doc_b, hamming", "doc_a, doc_b"),
      "q_ann_ivf"       -> sql(ivf, "q_id, rank, neighbor_id, cosine", "q_id, rank"),
      "q_ann_pq"        -> sql(pq, "q_id, rank, neighbor_id, cosine", "q_id, rank"),
      "q_pq_refine"     -> sql(pqRef, "q_id, rank, neighbor_id, cosine", "q_id, rank"),
      "q_ivf_pq"        -> sql(ivfpq, "q_id, rank, neighbor_id, cosine", "q_id, rank"),
      "q_ivf_pq_refine" -> sql(ivfpqRef, "q_id, rank, neighbor_id, cosine", "q_id, rank"),
      "q_ivf_probe"     -> sql(ivf, "q_id, rank, neighbor_id, cosine", "q_id, rank"),
      "q_ivf_asof"      -> sql(ivfAsof, "q_id, rank, neighbor_id, cosine", "q_id, rank"),
      "q_dedup_semantic" -> sql(sem, "drop_id, keep_id, list_id, cosine", "drop_id"),
      "q_token_bpe"     -> sql(bpe,
        "doc_id, n_words, n_chars, n_bpe_tokens, chars_per_token", "doc_id"),
      // the stored-model face shares the artifact (stored ≡ in-query)
      "q_bpe_probe"     -> sql(bpe,
        "doc_id, n_words, n_chars, n_bpe_tokens, chars_per_token", "doc_id"),
      "q_bpe_asof"      -> sql(bpeAsof,
        "doc_id, n_words, n_chars, n_bpe_tokens, chars_per_token", "doc_id"),
      "q_image_neardup" -> sql(img, "media_a, media_b, hamming", "media_a, media_b"),
      "q_compress_ratio" -> sql(cr,
        "doc_id, n_bytes, deflate_len, compress_ratio, flagged", "doc_id"),
      "q_ann_plan"       -> sql(plan, "q_id, rank, neighbor_id, cosine, tier", "q_id, rank"),
      "q_ivf_recall"     -> sql(ivfRec, "q_id, recall_at_5", "q_id"),
      "q_pq_recall"      -> sql(pqRec, "q_id, recall_at_5", "q_id"),
      "q_dsir_bucket"    -> sql(dsirB, "doc_id, n_bigrams, dsir_weight, sel_rank", "doc_id"),
      "q_dsir_probe"     -> sql(dsirB, "doc_id, n_bigrams, dsir_weight, sel_rank", "doc_id"),
      "q_dsir_asof"      -> sql(dsirA, "doc_id, n_bigrams, dsir_weight", "doc_id"),
      "q_dsir_retract"   -> sql(dsirR, "doc_id, n_bigrams, dsir_weight", "doc_id"),
      "q_kmeans"         -> sql(km, "cluster_id, n, mean_sim", "cluster_id"),
      "q_cluster_sample" -> sql(cs, "cluster_id, vec_id", "cluster_id, vec_id"),
    )
  }
}
