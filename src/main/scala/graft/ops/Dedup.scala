package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Large-scale training-data deduplication operators. All are
  * DataFrame → DataFrame, shuffle-aware:
  *
  *  - exact:        one hash-groupBy (no pairwise work)
  *  - ngramJaccard: shingle self-join — candidate pairs only come from
  *                  shared shingles (inverted-index-style blocking)
  *  - minhashLsh:   MinHash signatures banded into LSH buckets; only
  *                  bucket-colliding pairs are verified — the scale path:
  *                  shuffle is O(docs × bands), never O(docs²)
  *  - simhash:      64-bit fingerprints, banded for hamming-radius search
  *  - embeddingCosine: cosine near-dup via the Similarity module
  *
  * The reference ships MinHash as an analysis filter
  * (`lucene/analysis/common/.../minhash/MinHashFilter.java:46`); here it
  * becomes a first-class dedup pipeline.
  */
object Dedup {

  /** Exact duplicate groups by content hash: (id, canonicalId) for every
    * row whose text equals an earlier row's.
    */
  def exactDuplicates(df: DataFrame, textCol: String, idCol: String): DataFrame = {
    val h = sha2(col(textCol), 256)
    df.select(col(idCol).as("id"), h.as("h"))
      .withColumn("canonicalId",
        min("id").over(org.apache.spark.sql.expressions.Window.partitionBy("h")))
      .filter(col("id") =!= col("canonicalId"))
      .select("id", "canonicalId")
  }

  /** Solr SignatureUpdateProcessor signatures
    * (`solr/core/.../update/processor/SignatureUpdateProcessorFactory
    * .java:150-180` iterates the configured sigFields in order, calling
    * `Signature.add(value)` per present value, then hex-encodes the
    * bytes): `algo = "md5"` is MD5Signature (`MD5Signature.java:30-55` —
    * one digester updated with each value's UTF-8 bytes, i.e. the MD5 of
    * the concatenation; evaluated CODEGEN'D as Spark's `md5(concat_ws)`,
    * null fields skipped like the reference's absent values);
    * `algo = "lookup3"` is Lookup3Signature (`Lookup3Signature.java:
    * 24-40` — the 64-bit hash CHAINED value-by-value,
    * `hash = lookup3ycs64(v, 0, len, hash)`, big-endian hex; NOT the
    * hash of the concatenation — each add restarts the triple cycle from
    * the chained seed).
    */
  def withSignature(df: DataFrame, fields: Seq[String],
      algo: String = "md5", out: String = "signature"): DataFrame =
    algo match {
      case "md5" =>
        df.withColumn(out, md5(concat_ws("", fields.map(col): _*)))
      case "lookup3" =>
        val f = udf((vals: Seq[String]) => {
          var h = 0L
          vals.foreach { v =>
            if (v != null)
              h = graft.core.SolrHash.lookup3ycs64(v, 0, v.length, h)
          }
          f"$h%016x"
        })
        df.withColumn(out, f(array(fields.map(col): _*)))
      case other => sys.error(s"unknown signature algo: $other")
    }

  /** Signature-keyed duplicate clusters: (id, signature, groupSize) for
    * every row whose signature collides — the SignatureUpdateProcessor
    * overwrite-dupes view (equal signatures land on one id).
    */
  def signatureDuplicates(df: DataFrame, fields: Seq[String],
      idCol: String, algo: String = "md5"): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("signature")
    withSignature(df, fields, algo)
      .select(col(idCol).as("id"), col("signature"))
      .withColumn("groupSize", count(lit(1)).over(w))
      .filter(col("groupSize") >= 2)
      .select("id", "signature", "groupSize")
  }

  /** TextProfileSignature fuzzy dedup (`solr/core/.../update/processor/
    * TextProfileSignature.java:60-135` — Solr's SignatureUpdateProcessor
    * signature, itself lifted from Apache Nutch): per doc, lowercase and
    * split on non-letter-or-digit, DISCARD tokens of length <=
    * `minTokenLen` (strictly-greater keep, the reference's
    * `curToken.length() > minTokenLen`), count frequencies, compute
    * `quant = round(maxFreq * quantRate)` clamped to 2 when maxFreq > 1
    * (else 1), round every count DOWN to a multiple of quant, drop
    * counts below quant, list "token count" lines sorted by count
    * descending, and MD5 the profile. Word order and sub-quant noise
    * vanish, so reordered / lightly-edited copies collide — the fuzzy
    * tier between exact and MinHash dedup.
    *
    * One documented deviation: the reference breaks count ties in
    * HashMap-iteration order (unspecified across JVMs); here ties break
    * by token ascending so the signature is deterministic and
    * oracle-replayable.
    *
    * Scale shape: one (id, token) count groupBy, one per-doc reduce —
    * both partial-aggregated; the profile sort is per-doc-vocabulary
    * sized, inside `array_sort`. No driver work, no token-level join.
    */
  def textProfileSignature(df: DataFrame, textCol: String,
      idCol: String = "doc_id", quantRate: Float = 0.01f,
      minTokenLen: Int = 2): DataFrame = {
    val toks = filter(
      split(lower(col(textCol)), "[^\\p{L}\\p{Nd}]+"),
      t => length(t) > minTokenLen)
    val cnt = df.select(col(idCol).as("id"), explode(toks).as("t"))
      .groupBy(col("id"), col("t")).agg(count(lit(1)).as("c"))
    // quant: float multiply then Math.round (floor(x + 0.5f)), clamped
    val mx = cnt.groupBy(col("id")).agg(max(col("c")).as("mf"))
    val rawQ = floor(col("mf").cast("float") * lit(quantRate) + lit(0.5f))
      .cast("long")
    val withQ = mx.withColumn("quant",
      when(rawQ < 2, when(col("mf") > 1, lit(2L)).otherwise(lit(1L)))
        .otherwise(rawQ))
    val prof = cnt.join(withQ, "id")
      .withColumn("qc", expr("c div quant") * col("quant"))
      .filter(col("qc") >= col("quant"))
      .groupBy(col("id"))
      .agg(array_sort(collect_list(
        struct((-col("qc")).as("nq"), col("t"), col("qc")))).as("ps"))
      .select(col("id"), concat_ws("\n",
        transform(col("ps"), x =>
          concat(x.getField("t"), lit(" "), x.getField("qc")))).as("profile"))
    val sigs = df.select(col(idCol).as("id"))
      .join(prof, Seq("id"), "left")
      .select(col("id").as(idCol),
        md5(coalesce(col("profile"), lit(""))).as("signature"))
    sigs.withColumn("is_dup",
      count(lit(1)).over(org.apache.spark.sql.expressions.Window
        .partitionBy(col("signature"))) > 1)
  }

  /** Tokenize + n-token shingles, one row per DISTINCT (id, shingle). */
  def shingles(df: DataFrame, textCol: String, idCol: String, n: Int): DataFrame = {
    val mk = udf { (s: String) =>
      val toks = graft.core.Analysis.simpleTokens(s)
      if (toks.length < n) Array.empty[String]
      else toks.sliding(n).map(_.mkString(" ")).toArray.distinct
    }
    df.select(col(idCol).as("id"), explode(mk(col(textCol))).as("sh"))
  }

  /** Exact n-gram Jaccard pairs ≥ threshold. Blocking via the shingle
    * self-join: docs sharing ≥1 shingle become candidates, then are
    * verified with the TRUE Jaccard over the full shingle sets.
    *
    * `maxShingleDf` (default unlimited — full recall, no extra job): when
    * set, a shingle in > maxShingleDf docs is dropped from BLOCKING ONLY
    * (it contributes O(df²) candidate pairs and can only be boilerplate;
    * the dropped count is logged). The exact verify is unaffected, so the
    * cap never distorts a reported similarity — but it CAN miss a pair
    * whose every shared shingle is hot. Opt in at 10⁹-doc scale; the
    * default keeps the historical exact-recall contract (and skips the
    * hot-set groupBy+count job entirely).
    */
  def ngramJaccardPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, threshold: Double = 0.7,
      maxShingleDf: Int = Int.MaxValue): DataFrame = {
    val sh = shingles(df, textCol, idCol, n).persist()
    val useCap = maxShingleDf < Int.MaxValue
    val hot =
      if (!useCap) null
      else sh.groupBy("sh").count()
        .filter(col("count") > maxShingleDf).select("sh").persist()
    val nHot = if (useCap) hot.count() else 0L
    if (nHot > 0)
      org.slf4j.LoggerFactory.getLogger(getClass).warn(
        s"ngramJaccardPairs: dropping $nHot shingles with df > $maxShingleDf from blocking")
    try {
      val filtered = if (nHot == 0) sh else sh.join(hot, Seq("sh"), "left_anti")
      val a = filtered.select(col("id").as("ia"), col("sh"))
      val b = filtered.select(col("id").as("ib"), col("sh"))
      val cand = a.join(b, Seq("sh")).filter(col("ia") < col("ib"))
      val inter =
        if (nHot == 0)
          // uncapped: the blocking join runs over the FULL shingle sets
          // (distinct per doc), so the per-pair match count IS the
          // intersection size — the former distinct + two re-joins of
          // the shingle sets re-derived a number the join already had
          // (guide §2.4: remove shuffles outright)
          cand.groupBy("ia", "ib").agg(count(lit(1)).as("inter"))
        else {
          // capped blocking: hot shingles were dropped from `filtered`,
          // so the intersection must be re-counted over the full sets
          val candD = cand.select("ia", "ib").distinct()
          val aSh = sh.select(col("id").as("ia"), col("sh"))
          val bSh = sh.select(col("id").as("ib"), col("sh"))
          candD.join(aSh, Seq("ia")).join(bSh, Seq("ib", "sh"))
            .groupBy("ia", "ib").agg(count(lit(1)).as("inter"))
        }
      val sizes = sh.groupBy("id").agg(count(lit(1)).as("n"))
      inter
        .join(sizes.select(col("id").as("ia"), col("n").as("na")), Seq("ia"))
        .join(sizes.select(col("id").as("ib"), col("n").as("nb")), Seq("ib"))
        .withColumn("jaccard",
          col("inter") / (col("na") + col("nb") - col("inter")))
        .filter(col("jaccard") >= threshold)
        .select(col("ia"), col("ib"), col("jaccard"))
    } finally { sh.unpersist(); if (hot != null) hot.unpersist(); () }
  }

  // ---- MinHash + LSH ----

  /** Deterministic 64-bit hash of a shingle string. */
  def shingleHash(s: String): Long =
    scala.util.hashing.MurmurHash3.stringHash(s, 0x5eed).toLong & 0xffffffffL |
      (scala.util.hashing.MurmurHash3.stringHash(s, 0x7a11).toLong << 32)

  private val MersennePrime = (1L << 61) - 1

  /** numHashes universal-hash params (a, b), seeded. */
  def hashParams(numHashes: Int, seed: Long = 42L): Array[(Long, Long)] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(numHashes)(
      (math.abs(rnd.nextLong()) % (MersennePrime - 1) + 1,
        math.abs(rnd.nextLong()) % MersennePrime))
  }

  /** MinHash signature of a shingle-hash set. */
  def signature(hashes: Iterable[Long], params: Array[(Long, Long)]): Array[Long] = {
    val sig = Array.fill(params.length)(Long.MaxValue)
    hashes.foreach { h0 =>
      val x = h0 & Long.MaxValue
      var i = 0
      while (i < params.length) {
        val (a, b) = params(i)
        // (a*x + b) mod p via BigInt-free 61-bit Mersenne reduction
        val v = modMersenne(mulMod(a, x) + b)
        if (v < sig(i)) sig(i) = v
        i += 1
      }
    }
    sig
  }

  private def mulMod(a: Long, b: Long): Long = {
    // (a * b) mod 2^61-1 using 128-bit via Math.multiplyHigh
    val hi = Math.multiplyHigh(a, b)
    val lo = a * b
    // 2^64 ≡ 8 (mod 2^61-1): fold
    modMersenne((lo & MersennePrime) + ((lo >>> 61) | (hi << 3)))
  }

  private def modMersenne(x0: Long): Long = {
    var x = (x0 & MersennePrime) + (x0 >>> 61)
    if (x >= MersennePrime) x -= MersennePrime
    x
  }

  /** MinHash + LSH candidate pairs, verified with TRUE Jaccard ≥ threshold.
    * Signatures: numHashes minwise hashes; LSH: `bands` bands of
    * numHashes/bands rows — docs colliding in ANY band become candidates.
    * Recall for j ≥ 0.9 with 64/16: 1 - (1 - 0.9⁴)¹⁶ ≈ 1 - 3e-8.
    */
  def minhashLshPairs(df: DataFrame, textCol: String, idCol: String,
      n: Int = 3, numHashes: Int = 64, bands: Int = 16,
      threshold: Double = 0.7, seed: Long = 42L): DataFrame = {
    require(numHashes % bands == 0)
    val rows = numHashes / bands
    val params = hashParams(numHashes, seed)
    val sigUdf = udf { (s: String) =>
      val toks = graft.core.Analysis.simpleTokens(s)
      val shs = if (toks.length < n) Set.empty[Long]
        else toks.sliding(n).map(w => shingleHash(w.mkString(" "))).toSet
      if (shs.isEmpty) Array.empty[Long] else signature(shs, params)
    }
    val sigs = df.select(col(idCol).as("id"), sigUdf(col(textCol)).as("sig"))
      .filter(size(col("sig")) > 0)
    // band buckets: (bandIdx, 64-bit hash of the band slice) → candidate
    // join key. 64-bit (shingleHash), not String.hashCode: a 32-bit key at
    // 10⁹ docs yields millions of accidental candidate pairs per band
    // (verification rescues correctness but pays the join cost)
    val banded = sigs.select(col("id"), posexplode(
      udf((sig: Array[Long]) =>
        sig.grouped(rows).map(g => shingleHash(g.mkString(","))).toArray
      ).apply(col("sig"))).as(Seq("band", "bucket")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("ia"), col("y.id").as("ib")).distinct()
    // verify candidates with exact Jaccard (pair count is tiny post-LSH)
    val sh = shingles(df, textCol, idCol, n)
    val sizes = sh.groupBy("id").agg(count(lit(1)).as("cnt"))
    val aSh = sh.select(col("id").as("ia"), col("sh"))
    val bSh = sh.select(col("id").as("ib"), col("sh"))
    cand.join(aSh, Seq("ia")).join(bSh, Seq("ib", "sh"))
      .groupBy("ia", "ib").agg(count(lit(1)).as("inter"))
      .join(sizes.select(col("id").as("ia"), col("cnt").as("na")), Seq("ia"))
      .join(sizes.select(col("id").as("ib"), col("cnt").as("nb")), Seq("ib"))
      .withColumn("jaccard", col("inter") / (col("na") + col("nb") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("ia", "ib", "jaccard")
  }

  // ---- SimHash ----

  /** 64-bit token hash for SimHash: the first 8 bytes (big-endian) of
    * sha256(utf8(token)) — chosen over murmur so the DuckDB oracle can
    * reproduce the exact bits (`substr(sha256(term), 1, 16)` parsed as
    * hex); quality is cryptographic.
    */
  def tokenHash64(md: java.security.MessageDigest, s: String): Long = {
    md.reset()
    val d = md.digest(s.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    java.nio.ByteBuffer.wrap(d, 0, 8).getLong
  }

  /** 64-bit SimHash of the token multiset. Bit i (LSB = 0) is set when the
    * per-token votes on bit i of [[tokenHash64]] sum positive.
    */
  def simhash64(tokens: Array[String]): Long = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    val votes = new Array[Int](64)
    tokens.foreach { t =>
      val h = tokenHash64(md, t)
      var i = 0
      while (i < 64) {
        if (((h >>> i) & 1L) == 1L) votes(i) += 1 else votes(i) -= 1
        i += 1
      }
    }
    var out = 0L
    var i = 0
    while (i < 64) {
      if (votes(i) > 0) out |= (1L << i)
      i += 1
    }
    out
  }

  /** Contiguous (startBit, width) slices partitioning the 64-bit sig into
    * `nBands` bands (widths differ by at most 1).
    */
  def simhashBands(nBands: Int): Seq[(Int, Int)] =
    (0 until nBands).map { i =>
      val lo = (i * 64) / nBands
      val hi = ((i + 1) * 64) / nBands
      (lo, hi - lo)
    }

  /** SimHash near-dup pairs with hamming distance ≤ maxHamming, using
    * pigeonhole band blocking: the sig is sliced into `nBands` contiguous
    * bands (default maxHamming + 1), so distance ≤ maxHamming forces at
    * least one band to match exactly — blocking is EXACT (full recall) at
    * any radius, and candidates are verified with the true hamming
    * distance. Scale knob: more bands ⇒ wider radius support but shorter
    * band keys ⇒ bigger buckets; at 10⁹+ docs pick nBands for the radius
    * you need and no more (radius 3 ⇒ 4×16-bit bands, radius 5 ⇒
    * 6×~11-bit — the Manku et al. multi-table layout with contiguous
    * blocks).
    */
  def simhashPairs(df: DataFrame, textCol: String, idCol: String,
      maxHamming: Int = 3, nBands: Int = 0): DataFrame = {
    val bands = if (nBands > 0) nBands else maxHamming + 1
    require(bands > maxHamming,
      s"pigeonhole blocking needs nBands > maxHamming (got $bands, $maxHamming)")
    require(bands <= 64, "at most one band per bit")
    val shUdf = udf((s: String) => simhash64(graft.core.Analysis.simpleTokens(s)))
    val sigs = df.select(col(idCol).as("id"), shUdf(col(textCol)).as("sig"))
    val slices = simhashBands(bands).map { case (lo, w) =>
      val mask = if (w >= 64) -1L else (1L << w) - 1
      shiftright(col("sig"), lo).bitwiseAND(lit(mask))
    }
    val banded = sigs.select(col("id"), col("sig"),
      posexplode(array(slices: _*)).as(Seq("band", "bucket")))
    val cand = banded.as("x").join(banded.as("y"),
        col("x.band") === col("y.band") && col("x.bucket") === col("y.bucket") &&
        col("x.id") < col("y.id"))
      .select(col("x.id").as("ia"), col("x.sig").as("sa"),
        col("y.id").as("ib"), col("y.sig").as("sb")).distinct()
    val hammingUdf = udf((a: Long, b: Long) => java.lang.Long.bitCount(a ^ b))
    cand.withColumn("hamming", hammingUdf(col("sa"), col("sb")))
      .filter(col("hamming") <= maxHamming)
      .select("ia", "ib", "hamming")
  }

  /** Embedding cosine near-dup pairs: banded sign-LSH candidates + exact
    * cosine verify (Similarity.lshBandedCosinePairs) — O(docs × bands)
    * shuffle, never a cartesian product. `Similarity.cosinePairs` remains
    * as the brute-force oracle for the recall spec.
    */
  def embeddingCosinePairs(df: DataFrame, vecCol: String, idCol: String,
      threshold: Double): DataFrame =
    Similarity.lshBandedCosinePairs(df, vecCol, idCol, threshold)

  /** Connected components over a near-duplicate PAIR set — the cluster
    * step every dedup pipeline needs after pair generation (pick one
    * canonical document per duplicate cluster; chains a~b, b~c must
    * collapse to one cluster even when a~c was never emitted as a pair).
    *
    * Alternating large-star / small-star (Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC '14): converges to
    * per-component stars rooted at the minimum id in O(log²) rounds.
    * Every round is groupBy(node).min + a co-partitioned join — NO
    * collect_set/collect_list (a 10⁶-member duplicate cluster would
    * otherwise build a 10⁶-element array in one task), no driver-side
    * graph state, each frame persisted one round and released
    * (the Graph.scala BFS discipline).
    *
    * Returns (id, component) for every node that appears in `pairs`,
    * component = the minimum id reachable; unpaired docs are implicitly
    * their own canonical. Roots are included as (r, r) so a join against
    * the corpus needs no special case.
    */
  def connectedComponents(pairs: DataFrame, aCol: String, bCol: String,
      maxIter: Int = 50): DataFrame = {
    val spark = pairs.sparkSession
    import spark.implicits._
    // localCheckpoint (not persist): each round's frame references the
    // previous one several times (union + self-derived join), so bare
    // lineage grows ~4^rounds and OOMs the optimizer — the checkpoint
    // truncates the plan to the materialized partitions every round
    var edges = pairs.select(col(aCol).cast("long").as("a"),
        col(bCol).cast("long").as("b"))
      .filter(col("a") =!= col("b")).distinct().localCheckpoint(true)
    if (edges.isEmpty) {
      edges.unpersist()
      return spark.emptyDataset[(Long, Long)].toDF("id", "component")
    }

    def undirected(e: DataFrame): DataFrame =
      e.union(e.select(col("b").as("a"), col("a").as("b")))

    /** large-star: every neighbor v > u re-attaches to min(Γ⁺(u)). */
    def largeStar(e: DataFrame): DataFrame = {
      val und = undirected(e)
      val mins = und.groupBy("a").agg(min(col("b")).as("mb"))
      und.join(mins, "a")
        .filter(col("b") > col("a"))
        .select(col("b").as("a"), least(col("a"), col("mb")).as("b"))
        .filter(col("a") =!= col("b")).distinct()
    }

    /** small-star: every smaller neighbor (and u itself) re-attaches to
      * min(Γ≤(u) ∪ {u}); edges first directed large → small.
      */
    def smallStar(e: DataFrame): DataFrame = {
      val dir = e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
      val mins = dir.groupBy("a").agg(min(col("b")).as("mb"))
      val reattach = dir.join(mins, "a")
        .select(col("b").as("a"), col("mb").as("b"))
      val self = mins.select(col("a"), col("mb").as("b"))
      reattach.union(self)
        .filter(col("a") =!= col("b")).distinct()
    }

    // fixpoint detection on the canonical-direction edge multiset: a
    // (count, xxhash64-sum) fingerprint — one aggregate, no except().
    // The sum runs in decimal(38,0): exact and overflow-free under ANSI
    // mode at any edge count this side of 10³⁸
    def fingerprint(e: DataFrame): (Long, String) = {
      val r = e.select(greatest(col("a"), col("b")).as("a"),
          least(col("a"), col("b")).as("b"))
        .agg(count(lit(1)),
          sum(xxhash64(col("a"), col("b")).cast("decimal(38,0)")))
        .collect()(0)
      (r.getLong(0), if (r.isNullAt(1)) "0" else r.getDecimal(1).toPlainString)
    }

    var fp = fingerprint(edges)
    var it = 0
    var converged = false
    def canon(e: DataFrame): DataFrame =
      e.select(greatest(col("a"), col("b")).as("a"),
        least(col("a"), col("b")).as("b"))
    while (!converged && it < maxIter) {
      val next = smallStar(largeStar(edges)).localCheckpoint(true)
      val nfp = fingerprint(next)
      // hash-collision guard: the fingerprint is the cheap per-round test,
      // but convergence is only DECLARED after one exact set comparison at
      // the claimed fixpoint (equal counts from the fingerprint + empty
      // difference on the canonical direction = set equality) — a colliding
      // sum can no longer end iteration on a non-star edge set
      converged = nfp == fp && canon(next).exceptAll(canon(edges)).isEmpty
      edges.unpersist()
      edges = next
      fp = nfp
      it += 1
    }
    require(converged, s"connectedComponents did not converge in $maxIter rounds")
    // at the fixpoint the edge set is a star per component, rooted at the
    // component's minimum id
    val dir = edges.select(greatest(col("a"), col("b")).as("id"),
      least(col("a"), col("b")).as("component"))
    val roots = dir.select(col("component").as("id"), col("component"))
    // materialize before releasing edges — the checkpointed input has no
    // lineage left to recompute from
    val out = dir.union(roots).distinct().localCheckpoint(true)
    edges.unpersist()
    out
  }

  /** Canonical assignment: (id, canonicalId) for every DUPLICATE doc
    * (component root excluded — it is the canonical survivor). The
    * keep-list is then `docs LEFT ANTI JOIN duplicates`.
    */
  def canonicalize(pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    connectedComponents(pairs, aCol, bCol)
      .filter(col("id") =!= col("component"))
      .withColumnRenamed("component", "canonicalId")
}
