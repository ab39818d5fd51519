package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/**
 * Deduplication family for training-data pipelines: exact, MinHash+LSH,
 * SimHash, n-gram Jaccard verification, embedding-cosine near-dup.
 *
 * Scale design: every method is shuffle-bounded by GROUP BY on a hash key —
 * never an all-pairs cross join. Candidate generation goes through LSH
 * band-buckets (pairs are only formed inside a bucket), so 100 TB of docs
 * shuffles O(docs × bands) small rows, and verification joins only the
 * candidate pair set back to the shingle arrays.
 */
object Dedup {

  /** Shared with [[TextAnalysis.fingerprint]] — the dedup fingerprint and the
    * stats fingerprint must never drift apart (both are oracle-replicated). */
  private[ops] def normalized(text: Column): Column =
    lower(trim(regexp_replace(text, "\\s+", " ")))

  // ── exact dedup: hash-groupBy on the normalised text ──
  /** One row per distinct content: keeper = min id, plus duplicate count. */
  def exact(df: DataFrame, textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    df.groupBy(md5(normalized(col(textCol))).as("fingerprint"))
      .agg(min(col(idCol)).as("keeper_id"), count(lit(1)).as("n_dups"))

  // ── shingling ──
  /** Distinct k-word shingles of the whitespace tokenisation. */
  def shingles(text: Column, k: Int = 3): Column = {
    val words = split(normalized(text), " ")
    array_distinct(
      transform(sequence(lit(1), greatest(size(words) - (k - 1), lit(1))),
        i => concat_ws(" ", slice(words, i, lit(k)))))
  }

  // ── MinHash signatures + LSH banding ──
  /** numHashes minhash values: min over shingles of xxhash64(shingle, salt).
    * Column formulation (interpreted HOF) — use [[minhashSignatures]] for bulk. */
  def minhashSignature(shinglesCol: Column, numHashes: Int = 16): Column =
    transform(sequence(lit(0), lit(numHashes - 1)),
      s => array_min(transform(shinglesCol, sh => xxhash64(sh, s))))

  /**
   * (id, shingle) rows WITHOUT the array-HOF shingle builder: `transform` /
   * `slice` lambdas evaluate interpreted per element (no whole-stage codegen),
   * which made shingle construction the dominant cost of the minhash path
   * (measured 2.8 s per evaluation over 5k docs at sf0.1 — ~30× the hash
   * aggregation it feeds). Here words explode once and each shingle is the
   * codegen'd `concat_ws` of `lead` neighbours over a per-doc window; the
   * window's hash partitioning on `id` is exactly the downstream
   * aggregation's key, so the whole chain costs ONE shuffle of narrow
   * (id, pos, word) rows. Byte-identical shingle strings to [[shingles]]
   * (same normalisation, same k-word join, same short-doc tail rule), minus
   * the array_distinct — callers below aggregate with min/set semantics
   * where duplicates cannot change the result.
   */
  private def shingleRows(
      df: DataFrame, textCol: String, idCol: String, k: Int = 3): DataFrame = {
    val words = split(normalized(col(textCol)), " ")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("id")).orderBy(col("pos"))
    val parts = (0 until k).map(j =>
      if (j == 0) col("w") else lead(col("w"), j).over(w))
    df.select(col(idCol).as("id"), size(words).as("n"),
        posexplode(words).as(Seq("pos", "w")))
      // leads FIRST (over every word row), filter AFTER: the last kept
      // position's shingle needs the k-1 words past the keep range — a
      // pre-filter window would see them gone and truncate that shingle
      .select(col("id"), col("n"), col("pos"), concat_ws(" ", parts: _*).as("sh"))
      // 0-based keep range 0..greatest(n-k, 0) ≡ the 1-based
      // 1..greatest(n-(k-1), 1) of [[shingles]] (short docs keep position 0:
      // concat_ws skips the null leads exactly like the short slice)
      .filter(col("pos") <= greatest(col("n") - k, lit(0)))
      .select(col("id"), col("sh"))
  }

  /**
   * Bulk signatures via explode + hash-aggregate: one codegen'd aggregation of
   * numHashes `min` columns over the (doc, shingle) rows of [[shingleRows]]
   * (shingle construction itself is codegen'd too — the array-HOF builder was
   * the measured bottleneck). Shuffle is bounded by docs × shingles with
   * map-side partial min; duplicate shingles (no distinct) cannot change a
   * min. Signature values are identical to the [[minhashSignature]] column
   * form: same shingle strings, same xxhash64(shingle, seed).
   */
  def minhashSignatures(
      df: DataFrame, textCol: String, idCol: String, numHashes: Int): DataFrame = {
    val aggs = (0 until numHashes).map(s => min(xxhash64(col("sh"), lit(s))).as(s"_m$s"))
    shingleRows(df, textCol, idCol)
      .groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"), array((0 until numHashes).map(s => col(s"_m$s")): _*).as("sig"))
  }

  /**
   * LSH candidate pairs: docs sharing at least one band of the minhash
   * signature. bands × rowsPerBand == numHashes. Returns (id_a, id_b) with
   * id_a < id_b, deduplicated across bands.
   *
   * `maxBucketSize` drops buckets larger than the cap before pairing: an
   * over-full bucket is non-discriminative (stop-shingle effect) and would
   * produce O(m²) candidates — the standard guard that keeps candidate
   * generation near-linear at corpus scale.
   */
  def lshCandidates(
      df: DataFrame, textCol: String = "text", idCol: String = "doc_id",
      numHashes: Int = 16, bands: Int = 4, maxBucketSize: Int = 100): DataFrame = {
    require(numHashes % bands == 0,
      s"lshCandidates: bands=$bands must divide numHashes=$numHashes — a " +
        "remainder would silently drop trailing minhash values and skew the " +
        "(bands, rows) collision probability the caller asked for")
    val rows = numHashes / bands
    val sig = minhashSignatures(df, textCol, idCol, numHashes)
    // bands are statically known: build the band structs without a lambda so
    // slice offsets stay literal (better codegen, no Column/Int mismatch)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        xxhash64(concat_ws(",",
          slice(col("sig"), b * rows + 1, rows).cast(ArrayType(StringType))), lit(b))
          .as("bucket"))
    }
    // persisted: consumed by the bucket-size gate AND both sides of the
    // pair join — three evaluations of the signature pipeline otherwise
    // (narrow (id, band, bucket) rows, docs × bands of them)
    val allBanded = sig.select(col("id"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("bb.band"), col("bb.bucket"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // drop non-discriminative (over-full) buckets before pairing
    val bucketSizes = allBanded.groupBy("band", "bucket")
      .agg(count(lit(1)).as("_bsz"))
      .filter(col("_bsz") <= maxBucketSize)
    val banded = allBanded.join(bucketSizes, Seq("band", "bucket")).drop("_bsz")
    // pairs only within a (band, bucket) group — no cross join
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /** Exact n-gram Jaccard verification of candidate pairs.
    *
    * The shingle arrays are built ONLY for docs that appear in a candidate
    * pair (semi-join prune): the verify cost scales with the candidate set,
    * not the corpus — at corpus scale almost every doc has no candidate, and
    * the interpreted-HOF array builder is the expensive part of this path.
    * `candidates` is persisted because it is consumed three times here (the
    * id collection twice via the union, plus the verify join) — without it
    * the whole LSH pipeline that produced the pairs would re-run per use. */
  def ngramJaccard(
      df: DataFrame, candidates: DataFrame,
      textCol: String = "text", idCol: String = "doc_id", k: Int = 3): DataFrame = {
    val cands = candidates.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ids = cands.select(col("id_a").as("_cand_id"))
      .unionAll(cands.select(col("id_b").as("_cand_id"))).distinct()
    val needed = df.join(ids, col(idCol) === col("_cand_id"), "left_semi")
    val sh = needed.select(col(idCol).as("id"), shingles(col(textCol), k).as("sh"))
    cands
      .join(sh.select(col("id").as("id_a"), col("sh").as("sh_a")), "id_a")
      .join(sh.select(col("id").as("id_b"), col("sh").as("sh_b")), "id_b")
      .select(col("id_a"), col("id_b"),
        (size(array_intersect(col("sh_a"), col("sh_b"))).cast(DoubleType) /
          size(array_union(col("sh_a"), col("sh_b"))).cast(DoubleType)).as("jaccard"))
  }

  /** MinHash near-dup pipeline: LSH candidates → exact Jaccard ≥ threshold. */
  def minhashNearDups(
      df: DataFrame, threshold: Double = 0.8,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame =
    ngramJaccard(df, lshCandidates(df, textCol, idCol), textCol, idCol)
      .filter(col("jaccard") >= threshold)

  // ── SimHash ──
  /**
   * bits-wide SimHash over word tokens: bit j set iff sum over words of
   * (bit j of xxhash64(word) ? +1 : -1) > 0. One aggregation, no explode.
   */
  def simhash(text: Column, bits: Int = 32): Column = {
    val words = split(normalized(text), " ")
    val hashes = transform(words, w => xxhash64(w))
    val sig = (0 until bits).map { j =>
      val bitSum = aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, j).bitwiseAND(1L) * 2 - 1))
      when(bitSum > 0, lit(1L << j)).otherwise(lit(0L))
    }.reduce(_ + _)
    // NULL text → NULL signature: every bitSum is null on a null text, so
    // the otherwise(0) branches would mint signature 0 — a valid-looking
    // value that hamming-collides with any true all-zero signature, and
    // diverges from simhashSignatures (which drops the doc at explode),
    // breaking the "identical values" contract between the two forms
    when(text.isNull, lit(null).cast("long")).otherwise(sig)
  }

  /** Bulk SimHash via explode + hash-aggregate (same rationale as
    * [[minhashSignatures]]): per-word hash rows, `bits` sum aggregates, then
    * pack the sign bits. Identical values to [[simhash]]. */
  def simhashSignatures(
      df: DataFrame, textCol: String, idCol: String, bits: Int): DataFrame = {
    val words = df.select(col(idCol).as("id"),
      explode(split(normalized(col(textCol)), " ")).as("w"))
      .select(col("id"), xxhash64(col("w")).as("h"))
    val aggs = (0 until bits).map(j =>
      sum(shiftright(col("h"), j).bitwiseAND(1L) * 2 - 1).as(s"_s$j"))
    words.groupBy(col("id"))
      .agg(aggs.head, aggs.tail: _*)
      .select(col("id"),
        (0 until bits).map(j =>
          when(col(s"_s$j") > 0, lit(1L << j)).otherwise(lit(0L))).reduce(_ + _).as("sig"))
  }

  /**
   * SimHash near-dups: candidates share at least one of `bands` contiguous
   * byte-bands of the signature (hamming-LSH), verified by bit_count(xor) ≤
   * maxHamming.
   */
  def simhashNearDups(
      df: DataFrame, maxHamming: Int = 3, bits: Int = 32, bands: Int = 4,
      textCol: String = "text", idCol: String = "doc_id",
      /** Buckets larger than this are dropped before pairing (the lshCandidates
        * cap). Default keeps EVERY bucket: unlike minhash's stop-shingle
        * buckets, a full simhash bucket usually IS the duplicate pile being
        * hunted, and dropping it silently halves recall on exact dups. Set a
        * cap for boilerplate-heavy corpora where one template page yields an
        * O(m²) pair explosion. */
      maxBucketSize: Int = Int.MaxValue): DataFrame = {
    require(bands >= 1 && bits % bands == 0,
      s"simhashNearDups: bands=$bands must divide bits=$bits — a silent " +
        "truncation would exclude the top bits from banding and skew the " +
        "(bands, rows) collision probability the caller asked for")
    require(bits >= 1 && bits <= 64,
      s"simhashNearDups: bits=$bits out of range [1,64] — the signature is " +
        "one packed Long; shifts past 64 wrap (Java masks shift counts mod " +
        "64) and would silently produce garbage signatures")
    val rows = bits / bands
    // Scala/Java mask Long shift counts to 6 bits, so (1L << 64) - 1 == 0:
    // the one-band-of-64-bits layout needs the explicit all-ones mask or
    // every doc lands in bucket 0 (an all-pairs join in disguise)
    val mask = if (rows == 64) -1L else (1L << rows) - 1
    val sig = simhashSignatures(df, textCol, idCol, bits)
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sig"), b * rows).bitwiseAND(mask).as("bucket"))
    }
    val allBanded = sig.select(col("id"), col("sig"), explode(array(bandStructs: _*)).as("bb"))
      .select(col("id"), col("sig"), col("bb.band"), col("bb.bucket"))
    val banded =
      if (maxBucketSize == Int.MaxValue) allBanded
      else {
        val sizes = allBanded.groupBy("band", "bucket")
          .agg(count(lit(1)).as("_bsz")).filter(col("_bsz") <= maxBucketSize)
        allBanded.join(sizes, Seq("band", "bucket")).drop("_bsz")
      }
    val a = banded.as("a"); val b = banded.as("b")
    a.join(b, col("a.band") === col("b.band") &&
        col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        bit_count(col("a.sig").bitwiseXOR(col("b.sig"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
  }

  /**
   * SimHash candidates verified as order-invariant exact duplicates: hamming-LSH
   * banding proposes pairs, word-multiset equality confirms them. Identical
   * multisets have identical signatures (hamming 0, same buckets), so recall on
   * true multiset-duplicates is deterministically 1 — which makes the output
   * fully replayable by a SQL oracle (group by sorted word list), unlike the
   * raw hamming≤k candidate set.
   */
  def simhashExactDups(
      df: DataFrame, maxHamming: Int = 3, bits: Int = 32, bands: Int = 4,
      textCol: String = "text", idCol: String = "doc_id"): DataFrame = {
    val cands = simhashNearDups(df, maxHamming, bits, bands, textCol, idCol)
    val w = df.select(col(idCol).as("id"),
      sort_array(split(normalized(col(textCol)), " ")).as("wm"))
    cands
      .join(w.select(col("id").as("id_a"), col("wm").as("wm_a")), "id_a")
      .join(w.select(col("id").as("id_b"), col("wm").as("wm_b")), "id_b")
      .filter(col("wm_a") === col("wm_b"))
      .select(col("id_a"), col("id_b"), col("hamming"))
  }

  // ── embedding-cosine near-dup ──
  /** A NaN cosine (zero-norm or NaN-element vector) must never pass the
    * threshold: Spark orders NaN ABOVE every real value, so `cosine >= t` is
    * TRUE for NaN and one all-zero embedding would pair with its whole
    * bucket as "near-duplicates". NULL (null element / dim mismatch — the
    * kernel contract) fails the >= naturally; the explicit isnan guard is
    * the load-bearing half. */
  private def aboveThreshold(threshold: Double): Column =
    !isnan(col("cosine")) && col("cosine") >= threshold

  /** Candidate pairs from ONE 8-plane hyperplane bucket, verified by exact
    * cosine ≥ threshold. RECALL < 1 BY DESIGN (like [[Similarity.lshTopK]]):
    * a pair at cosine exactly 0.95 (~18°) agrees on all 8 planes with
    * probability ≈ 0.43, so borderline near-dups in different buckets are
    * never paired — near-identical vectors (the usual dedup target, cosine
    * ≈ 1) collide with probability ≈ 1. Use [[embeddingNearDupsExact]] when
    * exhaustiveness matters more than scale. */
  def embeddingNearDups(
      df: DataFrame, threshold: Double = 0.95,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame = {
    val withSig = df.select(col(idCol).as("id"), col(vecCol).as("v"),
      Similarity.hyperplaneSignature(col(vecCol), 8).as("bucket"))
    val a = withSig.as("a"); val b = withSig.as("b")
    a.join(b, col("a.bucket") === col("b.bucket") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        Similarity.cosine(col("a.v"), col("b.v")).as("cosine"))
      .filter(aboveThreshold(threshold))
  }

  /** Brute-force variant (small corpora / oracle checks): all pairs, recall
    * 1. Same default threshold as [[embeddingNearDups]] so diffing the two
    * under defaults measures exactly the LSH recall loss, not a threshold
    * mismatch masquerading as one.
    *
    * Execution shape: the join formulation planned as a broadcast
    * nested-loop join whose per-pair row machinery dwarfed the cosine
    * kernel, and — worse — predicate pushdown substituted the `cosine`
    * alias into the threshold filter, so the kernel ran up to THREE times
    * per pair (isnan probe, comparison, projection; measured 2.7 s vs
    * 1.0 s for a single cosine pass over the same 2M pairs at sf0.1).
    * [[allPairsCosineLocal]] keeps the identical broadcast memory shape
    * (one side resident per executor — exactly what the BNLJ broadcast)
    * but runs ONE fused loop per pair below the row codec, with the same
    * strict sequential fold as [[graft.functions.CosineSim]], so every
    * emitted value is bit-identical. Pairs whose cosine the kernel would
    * NULL (length mismatch, null element, zero norm) or NaN (NaN element)
    * fail the `>=` exactly like [[aboveThreshold]]. Falls back to the join
    * formulation when the id column is not LongType or the corpus exceeds
    * the broadcast-sized bound [[LocalScanMaxCells]] — this op is inherently
    * O(n²); past that size the LSH variant is the tool. */
  def embeddingNearDupsExact(
      df: DataFrame, threshold: Double = 0.95,
      vecCol: String = "embedding", idCol: String = "vec_id"): DataFrame =
    exactPairs(df, threshold, vecCol, idCol)

  /** Cap on rows × longest vector that [[allPairsCosineLocal]] collects to
    * the driver — the same cap philosophy as Spark's own broadcast limits. */
  private val LocalScanMaxCells = 1L << 28

  /** [[embeddingNearDupsExact]]; specs lower `maxCells` to cross the bound. */
  private[graft] def exactPairs(
      df: DataFrame, threshold: Double, vecCol: String, idCol: String,
      maxCells: Long = LocalScanMaxCells): DataFrame = {
    val idIsLong = df.schema(idCol).dataType == LongType
    val elemOk = df.schema(vecCol).dataType match {
      case ArrayType(FloatType | DoubleType | IntegerType | LongType | ShortType, _) => true
      case _ => false
    }
    // sized BEFORE anything is collected: rows that can pair × the LONGEST
    // vector (a short first row must not under-count the corpus)
    def fitsLocal: Boolean = {
      val r = df.agg(count(col(idCol)), max(size(col(vecCol)))).head()
      val dim = if (r.isNullAt(1)) 0 else r.getInt(1)
      r.getLong(0) * math.max(1, dim) < maxCells
    }
    if (idIsLong && elemOk && fitsLocal) allPairsCosineLocal(df, threshold, vecCol, idCol)
    else {
      val v = df.select(col(idCol).as("id"), col(vecCol).as("v"))
      val a = v.as("a"); val b = v.as("b")
      a.join(b, col("a.id") < col("b.id"))
        .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
          Similarity.cosine(col("a.v"), col("b.v")).as("cosine"))
        .filter(aboveThreshold(threshold))
    }
  }

  /** One side of the all-pairs scan collected (same bytes a broadcast
    * nested-loop join ships to every executor; its size is gated by the
    * caller before the collect) and probed in a fused
    * per-pair loop; the other side streams partition-local below the row
    * codec. Returns (id_a, id_b, cosine) with id_a < id_b and cosine ≥
    * threshold — the exact output of the join formulation. */
  private def allPairsCosineLocal(
      df: DataFrame, threshold: Double, vecCol: String, idCol: String): DataFrame = {
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    import org.apache.spark.sql.graftbridge.Bridge
    val spark = df.sparkSession
    val rows = df.select(col(idCol), col(vecCol))
    val elemT = rows.schema(1).dataType.asInstanceOf[ArrayType].elementType
    // id-sorted (id, vec) table; vec null = "this row pairs with nothing"
    // (null array, or a null element that NULLs every cosine it touches)
    val side: Array[(Long, Array[Double])] = rows.collect().flatMap { r =>
      if (r.isNullAt(0)) None
      else {
        val vec =
          if (r.isNullAt(1)) null
          else {
            val s = r.getSeq[Any](1)
            if (s.contains(null)) null
            else s.map(_.asInstanceOf[Number].doubleValue()).toArray
          }
        Some((r.getLong(0), vec))
      }
    }.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(side)
    val outSchema = StructType(Seq(
      StructField("id_a", LongType, nullable = false),
      StructField("id_b", LongType, nullable = false),
      StructField("cosine", DoubleType, nullable = false)))
    val readElem: (org.apache.spark.sql.catalyst.util.ArrayData, Int) => Double =
      graft.functions.VecElemAccess.reader(elemT)
    val rdd = rows.queryExecution.toRdd.mapPartitions { it =>
      val table = bc.value
      val ids = table.map(_._1)
      it.flatMap { row =>
        if (row.isNullAt(0) || row.isNullAt(1)) Iterator.empty
        else {
          val idA = row.getLong(0)
          val arr = row.getArray(1)
          val n = arr.numElements()
          // densify once per left row; a null element voids every pair
          var va: Array[Double] = new Array[Double](n)
          var i = 0
          while (i < n && va != null) {
            if (arr.isNullAt(i)) va = null
            else { va(i) = readElem(arr, i); i += 1 }
          }
          if (va == null) Iterator.empty
          else {
            // first broadcast index with id > idA (ids are sorted unique)
            var lo = 0; var hi = ids.length
            while (lo < hi) {
              val mid = (lo + hi) >>> 1
              if (ids(mid) <= idA) lo = mid + 1 else hi = mid
            }
            val start = lo
            new Iterator[InternalRow] {
              private var j = start
              private var nextRow: InternalRow = null
              private def advance(): Unit = {
                nextRow = null
                while (nextRow == null && j < table.length) {
                  val vb = table(j)._2
                  if (vb != null && vb.length == va.length) {
                    // same strict left-to-right fold as CosineSim — values
                    // bit-identical; NaN/zero-norm fail the >= like the
                    // kernel's NULL/isnan contract
                    var dot = 0.0; var na = 0.0; var nb = 0.0
                    var k = 0
                    while (k < va.length) {
                      val x = va(k); val y = vb(k)
                      dot += x * y; na += x * x; nb += y * y
                      k += 1
                    }
                    val denom = math.sqrt(na) * math.sqrt(nb)
                    if (denom != 0.0 && dot / denom >= threshold)
                      nextRow = new GenericInternalRow(
                        Array[Any](idA, table(j)._1, dot / denom))
                  }
                  j += 1
                }
              }
              advance()
              override def hasNext: Boolean = nextRow != null
              override def next(): InternalRow = {
                val r = nextRow; advance(); r
              }
            }
          }
        }
      }
    }
    Bridge.internalCreateDataFrame(spark, rdd, outSchema)
  }
}
