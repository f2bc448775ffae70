package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.ops._

/** Properties for the training-pipeline operators: LSH recall vs exact,
  * simhash sensitivity, winnowing determinism, multimodal plumbing.
  */
class OpsSpec extends AnyFunSuite {

  lazy val spark = TestSpark.spark
  import spark.implicits._

  /** Synthetic doc set with planted near-duplicates. */
  lazy val docs = {
    val rnd = new scala.util.Random(3L)
    val vocab = graft.core.Corpus.Vocabulary
    val base = (0 until 120).map { i =>
      val n = 30 + rnd.nextInt(80)
      (i.toLong, Seq.fill(n)(vocab(rnd.nextInt(vocab.length))).mkString(" "))
    }
    // plant near-dups: copy with one token changed
    val dups = (0 until 15).map { i =>
      val (srcId, text) = base(i * 3)
      val toks = text.split(" ")
      toks(toks.length / 2) = "mutated"
      ((1000 + i).toLong, toks.mkString(" "))
    }
    (base ++ dups).toDF("id", "text")
  }

  test("minhash LSH pairs == exact ngram jaccard pairs (recall property)") {
    val exact = Dedup.ngramJaccardPairs(docs, "text", "id", 3, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val lsh = Dedup.minhashLshPairs(docs, "text", "id", 3, 64, 16, 0.7)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(exact.nonEmpty, "planted dups must be found")
    assert(lsh === exact)
  }

  test("exact duplicates found by hash dedup") {
    val copy = docs.filter(col("id") === 5).select(lit(2001L).as("id"), col("text"))
    val d2 = docs.unionByName(copy)
    val dups = Dedup.exactDuplicates(d2, "text", "id").collect()
    assert(dups.map(r => (r.getLong(0), r.getLong(1))).toSeq === Seq((2001L, 5L)))
  }

  test("simhash finds planted near-dups with small hamming distance") {
    val pairs = Dedup.simhashPairs(docs, "text", "id", maxHamming = 3)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    // every planted dup differs by one token from its source → tiny
    // simhash distance; expect most planted pairs recovered
    // one changed token in a 30-110-token doc usually stays within
    // hamming 3, but not always — simhash is a recall/precision tradeoff
    val planted = (0 until 15).map(i => ((i * 3).toLong, (1000 + i).toLong)).toSet
    val found = planted.count(pairs.contains)
    assert(found >= 10, s"recovered only $found/15 planted pairs")
  }

  test("simhash pigeonhole banding is exact at its radius (r=3 and r=5)") {
    // brute-force pairs from the raw 64-bit sigs == banded engine output:
    // the pigeonhole blocking (nBands > radius contiguous slices) may not
    // miss ANY pair within the radius
    val sigs = docs.collect().map { r =>
      (r.getLong(0), Dedup.simhash64(
        graft.core.Analysis.simpleTokens(r.getString(1))))
    }
    for ((radius, nBands) <- Seq((3, 4), (5, 6), (7, 8))) {
      val brute = (for {
        (ia, sa) <- sigs; (ib, sb) <- sigs
        if ia < ib && java.lang.Long.bitCount(sa ^ sb) <= radius
      } yield (ia, ib)).toSet
      val banded = Dedup.simhashPairs(docs, "text", "id", radius, nBands)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(banded === brute, s"radius=$radius nBands=$nBands")
    }
    // band slices partition all 64 bits (no gap, no overlap)
    for (n <- Seq(4, 6, 8, 13)) {
      val bands = Dedup.simhashBands(n)
      assert(bands.map(_._2).sum === 64)
      assert(bands.head._1 === 0)
      assert(bands.sliding(2).forall {
        case Seq((lo1, w1), (lo2, _)) => lo1 + w1 == lo2
        case _ => true
      })
    }
  }

  test("LSH ANN top-k has high recall vs brute force (planted neighbors)") {
    val rnd = new scala.util.Random(11L)
    val q = Array.fill(32)(rnd.nextGaussian().toFloat)
    // 10 genuine near neighbors (q + small noise) among 390 noise vectors —
    // sign-LSH concentrates true neighbors in the query's probe set;
    // pure-noise "neighbors" are uniformly spread and unfindable by design
    val planted = (0 until 10).map { i =>
      (i.toLong, q.map(v => v + 0.15f * rnd.nextGaussian().toFloat))
    }
    val noise = (10 until 400).map { i =>
      (i.toLong, Array.fill(32)(rnd.nextGaussian().toFloat))
    }
    val vecs = (planted ++ noise).toDF("vec_id", "embedding")
    val exact = Similarity.bruteForceTopK(vecs, "embedding", "vec_id", q, 10)
      .collect().map(_.getLong(0)).toSet
    assert(exact === (0L until 10L).toSet, "planted vectors are the true top-10")
    val approx = Similarity.lshTopK(vecs, "embedding", "vec_id", q, 10,
      planes = 10, probeRadius = 2)
      .collect().map(_.getLong(0)).toSet
    val recall = exact.intersect(approx).size.toDouble / exact.size
    assert(recall >= 0.8, s"recall $recall too low")
  }

  test("banded embedding pairs == brute-force pairs on the real test tables") {
    // the gate's q_dedup_embedding oracle computes EXACT pairs; the banded
    // path must reach recall 1 on the driver's data (deterministic seeded
    // hyperplanes make this a fixed property, not a coin flip)
    for (sf <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val e = spark.read.parquet(s"$sf/embeddings.parquet")
      val brute = Similarity.cosinePairs(e, "embedding", "vec_id", 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val banded = Similarity.lshBandedCosinePairs(e, "embedding", "vec_id", 0.4)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(brute.nonEmpty)
      assert(banded === brute, s"banded != brute at $sf")
    }
  }

  test("banded embedding pairs plan has no CartesianProduct") {
    val e = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val df = Similarity.lshBandedCosinePairs(e, "embedding", "vec_id", 0.4)
    df.collect() // force execution so the final plan is available
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in plan:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"nested-loop in plan:\n$plan")
  }

  test("indexed ANN (partition-pruned probes) == one-shot LSH scan") {
    val dir = java.nio.file.Files.createTempDirectory("graft-annspec").toString
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet")
    val q = e.filter(col("vec_id") === 0).select("embedding")
      .collect()(0).getSeq[Float](0).toArray
    Similarity.writeLshIndex(e, "embedding", "vec_id", dir, planes = 10)
    val indexed = Similarity.lshTopKIndexed(spark, dir, q, 10,
      planes = 10, probeRadius = 2, excludeId = Some(0L))
    val rows = indexed.collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    val scan = Similarity.lshTopK(e, "embedding", "vec_id", q, 10,
      planes = 10, probeRadius = 2, excludeId = Some(0L))
      .collect().map(r => (r.getLong(0), r.getDouble(1))).toSeq
    assert(rows === scan)
    // the probe read prunes on the sig partition column
    val plan = indexed.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") &&
      !plan.replaceAll("(?s).*PartitionFilters: \\[([^\\]]*)\\].*", "$1").trim.isEmpty,
      s"probe read not partition-pruned:\n$plan")
  }

  test("k-means-refined IVF: recall@10 >= random-codebook recall") {
    val e = spark.read.parquet("/root/testdata/sf0.01/embeddings.parquet").cache()
    val dirR = java.nio.file.Files.createTempDirectory("graft-ivf-rand").toString
    val dirK = java.nio.file.Files.createTempDirectory("graft-ivf-km").toString
    Similarity.writeIvfIndex(e, "embedding", "vec_id", dirR, nlist = 16)
    val cents = Similarity.writeIvfIndexRefined(e, "embedding", "vec_id",
      dirK, nlist = 16, iters = 5)
    // persisted codebook round-trips exactly
    assert(Similarity.readIvfCentroids(dirK).map(_.toSeq).toSeq ===
      cents.map(_.toSeq).toSeq)
    val queries = e.filter(col("vec_id") < 10)
      .select("vec_id", "embedding").collect()
      .map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    var hitsRand = 0
    var hitsKm = 0
    var total = 0
    queries.foreach { case (id, v) =>
      val exact = Similarity.bruteForceTopK(e, "embedding", "vec_id", v, 10,
        excludeId = Some(id)).collect().map(_.getLong(0)).toSet
      val rand = Similarity.ivfTopK(spark, dirR, v, 10, nlist = 16,
        nprobe = 4, excludeId = Some(id)).collect().map(_.getLong(0)).toSet
      val km = Similarity.ivfTopKRefined(spark, dirK, v, 10, nprobe = 4,
        excludeId = Some(id)).collect().map(_.getLong(0)).toSet
      hitsRand += exact.intersect(rand).size
      hitsKm += exact.intersect(km).size
      total += exact.size
    }
    assert(hitsKm >= hitsRand,
      s"kmeans recall $hitsKm/$total < random-codebook $hitsRand/$total")
    assert(hitsKm.toDouble / total >= 0.5, s"kmeans recall $hitsKm/$total")
  }

  test("cosineCol matches a plain scala computation") {
    val a = Array(1f, 2f, 3f)
    val b = Array(-1f, 0.5f, 2f)
    val got = Seq((a, b)).toDF("a", "b")
      .select(Similarity.cosineCol(col("a"), col("b"))).collect()(0).getDouble(0)
    val dot = a.zip(b).map { case (x, y) => x.toDouble * y }.sum
    val exp = dot / (math.sqrt(a.map(x => x.toDouble * x).sum) *
      math.sqrt(b.map(x => x.toDouble * x).sum))
    assert(math.abs(got - exp) < 1e-12)
  }

  test("winnowing sketch is deterministic and shift-sensitive") {
    val t1 = graft.core.Analysis.simpleTokens("a b c d e f g h i j k l")
    val s1 = TextAnalysis.winnow(t1, 3, 4)
    val s2 = TextAnalysis.winnow(t1, 3, 4)
    assert(s1.toSeq === s2.toSeq)
    assert(s1.nonEmpty)
    // near-identical docs share most fingerprints
    val t2 = graft.core.Analysis.simpleTokens("a b c d e f g h i j k z")
    val s3 = TextAnalysis.winnow(t2, 3, 4)
    assert(s1.toSet.intersect(s3.toSet).nonEmpty)
  }

  test("multimodal: decode + features + frame sampling plumbing") {
    val media = Multimodal.asMedia(docs, "id", "text", "text/fake")
    val decoded = Multimodal.decode(media).collect()
    assert(decoded.length === docs.count())
    decoded.foreach { r =>
      assert(r.width >= 1 && r.width <= 640 && r.channels === 3)
      assert(r.sha256Head.length === 16)
    }
    val feats = Multimodal.extractFeatures(media, dim = 16).collect()
    assert(feats.forall(_.features.length === 16))
    // deterministic
    val feats2 = Multimodal.extractFeatures(media, dim = 16).collect()
    assert(feats.sortBy(_.id).zip(feats2.sortBy(_.id))
      .forall { case (x, y) => x.features.toSeq == y.features.toSeq })
    val frames = Multimodal.sampleFrames(media, frameBytes = 32, stride = 2)
    val f0 = frames.filter(_.id == 0L).collect()
    assert(f0.forall(_.frameIdx % 2 == 0))
    assert(f0.map(_.frameIdx).distinct.length === f0.length)
  }

  test("langId picks the language with most marker hits") {
    val df = Seq(
      (1L, "the cat and the dog is in that house with food"),
      (2L, "der hund und die katze ist nicht ein problem mit"),
      (3L, "le chat et la maison est dans une grande pour"),
      (4L, "el gato es una cosa para los perros por como"),
      (5L, "xyzzy qwerty asdf")).toDF("doc_id", "text")
    val got = TextAnalysis.withLangId(df, "text")
      .select("doc_id", "lang_guess").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(got === Map(1L -> "en", 2L -> "de", 3L -> "fr", 4L -> "es", 5L -> "und"))
  }

  test("langId accuracy on a 27-language labeled fixture") {
    val fixture: Seq[(String, String)] = Seq(
      "en" -> "the cat and the dog are in the house with food for everyone",
      "de" -> "der hund und die katze sind nicht mit dem mann auf dem berg",
      "fr" -> "le chat et la maison est dans une grande ville pour les gens qui",
      "es" -> "el gato es una cosa para los perros pero sus amigos como ser",
      "pt" -> "você não vai mais ao mercado das flores e também já era uma",
      "it" -> "il gatto che corre per la strada con del pane e anche questo gli piace",
      "nl" -> "het huis van een man dat niet voor hem maar ook aan hij",
      "sv" -> "och att det som är för med på den inte jag huset",
      "da" -> "og jeg havde ikke hende som hun er til at se især hvor",
      "no" -> "jeg vil bare se noe fra han så hun kan ikke å meg",
      "fi" -> "ja on ei että oli hän mutta joka myös kun niin sen talo",
      "pl" -> "nie się jest na do że jak ale przez być tym oraz dom",
      "cs" -> "je na se že jako ale jsem jsou byl pro tak podle dům",
      "ro" -> "și de la cu un este pentru care din mai sunt fost casa",
      "hu" -> "és az hogy nem egy van meg el volt csak már még ház",
      "tr" -> "bir ve bu için ile ne gibi çok daha ama olarak sonra ev",
      "id" -> "yang dan di itu dengan untuk tidak ini dari dalam akan pada",
      "vi" -> "và của là có không được trong một người những này cho nhà",
      "ru" -> "это русский текст о доме и о людях которые там живут",
      "zh" -> "这是一个关于房子的中文句子",
      "ja" -> "これは日本語のテキストです",
      "ko" -> "이것은 한국어 텍스트입니다",
      "ar" -> "هذا نص عربي عن البيت والناس",
      "el" -> "αυτό είναι ένα ελληνικό κείμενο για το σπίτι",
      "he" -> "זהו טקסט בעברית על הבית והאנשים",
      "th" -> "นี่คือข้อความภาษาไทยเกี่ยวกับบ้าน",
      "hi" -> "यह हिंदी में एक वाक्य है")
    val df = fixture.zipWithIndex
      .map { case ((l, t), i) => (i.toLong, l, t) }
      .toDF("doc_id", "label", "text")
    val got = TextAnalysis.withLangId(df, "text")
      .select("label", "lang_guess").collect()
      .map(r => (r.getString(0), r.getString(1)))
    val correct = got.count { case (l, g) => l == g }
    val wrong = got.filter { case (l, g) => l != g }
    assert(correct >= 25, s"accuracy $correct/27; wrong: ${wrong.toSeq}")
    // script-detected languages must be exact — script is unambiguous
    val scriptSet = TextAnalysis.ScriptLangs.map(_._1).toSet
    got.filter(x => scriptSet.contains(x._1)).foreach { case (l, g) =>
      assert(l == g, s"script language $l detected as $g")
    }
  }

  test("quality scoring counts ALL 12 en stopwords (round-3 oracle-drift guard)") {
    // doc built so the 4 words added in round 3 ("for","was","are","this")
    // change the ratio: 8 stopwords incl. the new ones + 4 content words
    val df = Seq(
      (0L, "for was are this the and spark index merge lucene segment codec"),
      (1L, "spark index merge lucene segment postings codec wand")
    ).toDF("doc_id", "text")
    val q = TextAnalysis.withQuality(df, "text")
      .select("doc_id", "n_tokens", "stopword_ratio").collect()
      .map(r => r.getLong(0) -> (r.getInt(1), r.getDouble(2))).toMap
    assert(q(0L)._1 == 12)
    // 6 of 12 tokens are stopwords ONLY if the full 12-word list is used
    // (the old 8-word list would count 2/12)
    assert(math.abs(q(0L)._2 - 0.5) < 1e-9, s"got ${q(0L)._2}")
    assert(q(1L)._2 == 0.0)
  }

  test("char-bigram LM separates natural English from character gibberish") {
    val natural = "the merge scheduler writes each segment to the index " +
      "directory and then commits the manifest after the postings are sorted"
    // same letters, deterministically shuffled at CHARACTER level —
    // destroys the bigram structure the LM scores
    val chars = natural.replace(" ", "").toCharArray
    val rnd = new scala.util.Random(11)
    val shuffled = rnd.shuffle(chars.toSeq).grouped(6).map(_.mkString).mkString(" ")
    val sN = TextAnalysis.charLmRaw(natural)
    val sG = TextAnalysis.charLmRaw(shuffled)
    // calibrated on this table: natural English ≈ −2.25 (the ~160-bigram
    // table covers ~80% of natural mass; the rest hits the −4 floor),
    // character gibberish ≈ −2.96
    assert(sN > -2.4, s"natural text scored $sN")
    assert(sG < sN - 0.6, s"gibberish $sG not separated from natural $sN")
    assert(sN >= TextAnalysis.NaturalLmThreshold &&
      sG < TextAnalysis.NaturalLmThreshold)
    // edge: no letter pairs at all -> floor constant
    assert(TextAnalysis.charLmRaw("1 2 3 !") == TextAnalysis.NoBigramScore)
    // the DataFrame column agrees with the scalar (rounded)
    val df = Seq((0L, natural), (1L, shuffled)).toDF("doc_id", "text")
    val got = TextAnalysis.withCharLm(df, "text")
      .select("doc_id", "lm_logprob", "natural_ok").collect()
      .map(r => r.getLong(0) -> (r.getDouble(1), r.getBoolean(2))).toMap
    assert(math.abs(got(0L)._1 - sN) < 5e-5 && got(0L)._2)
    assert(math.abs(got(1L)._1 - sG) < 5e-5 && !got(1L)._2)
  }

  test("multimodal: REAL png/bmp decode via javax.imageio matches generated dims") {
    import javax.imageio.ImageIO
    import java.awt.image.BufferedImage
    def imgBytes(w: Int, h: Int, fmt: String): Array[Byte] = {
      val img = new BufferedImage(w, h, BufferedImage.TYPE_3BYTE_BGR)
      (0 until h).foreach(y => (0 until w).foreach(x =>
        img.setRGB(x, y, (x * 31 + y * 7) & 0xffffff)))
      val bos = new java.io.ByteArrayOutputStream()
      assert(ImageIO.write(img, fmt, bos), s"no $fmt writer installed")
      bos.toByteArray
    }
    val rows = Seq(
      (0L, imgBytes(17, 9, "png"), 17, 9),
      (1L, imgBytes(64, 48, "png"), 64, 48),
      (2L, imgBytes(33, 21, "bmp"), 33, 21))
    val media = Multimodal.asBinaryMedia(
      rows.map { case (id, b, _, _) => (id, b) }.toDF("id", "blob"),
      "id", "blob", "image/test")
    val got = Multimodal.decode(media).collect()
      .map(d => d.id -> ((d.width, d.height, d.channels))).toMap
    rows.foreach { case (id, _, w, h) =>
      assert(got(id) == ((w, h, 3)), s"doc $id decoded ${got(id)}, want ($w,$h,3)")
    }
    // scalar surface: corrupt bytes -> None (decode() then falls back to stub)
    assert(Multimodal.decodeImage(Array[Byte](1, 2, 3, 4)).isEmpty)
    // non-image media types keep the deterministic stub (gate contract)
    val stubbed = Multimodal.decode(Multimodal.asBinaryMedia(
      Seq((9L, Array[Byte](10, 20, 30))).toDF("id", "blob"), "id", "blob",
      "text/fake")).collect().head
    assert(stubbed.width == Multimodal.decodeStub(Array[Byte](10, 20, 30)).width)
  }

  test("multimodal: REAL wav/mp4 container-header parse over generated bytes") {
    // WAV: RIFF/WAVE + fmt (PCM, 2ch, 44100 Hz, 16-bit) + data chunk
    def wavBytes(ch: Int, rate: Int, bits: Int, dataLen: Int): Array[Byte] = {
      val byteRate = rate * ch * bits / 8
      val bb = java.nio.ByteBuffer.allocate(44 + dataLen)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataLen)
        .put("WAVE".getBytes("US-ASCII"))
        .put("fmt ".getBytes("US-ASCII")).putInt(16)
        .putShort(1).putShort(ch.toShort).putInt(rate).putInt(byteRate)
        .putShort((ch * bits / 8).toShort).putShort(bits.toShort)
        .put("data".getBytes("US-ASCII")).putInt(dataLen)
      (0 until dataLen).foreach(i => bb.put((i * 13).toByte))
      bb.array()
    }
    val wav = Multimodal.parseWav(wavBytes(2, 44100, 16, 88200)).get
    assert(wav.format == 1 && wav.channels == 2 && wav.sampleRate == 44100
      && wav.bitsPerSample == 16 && wav.dataBytes == 88200L)
    assert(math.abs(wav.durationSec - 0.5) < 1e-9) // 88200 / 176400
    // an extra chunk BEFORE fmt must be skipped (odd size → pad byte)
    val withJunk = {
      val j = java.nio.ByteBuffer.allocate(12 + 8 + 5 + 1 + 32)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      j.put("RIFF".getBytes("US-ASCII")).putInt(0)
        .put("WAVE".getBytes("US-ASCII"))
        .put("LIST".getBytes("US-ASCII")).putInt(5)
        .put(Array[Byte](1, 2, 3, 4, 5)).put(0.toByte)
      j.array() ++ wavBytes(1, 8000, 8, 4000).drop(12)
    }
    val wav2 = Multimodal.parseWav(withJunk).get
    assert(wav2.channels == 1 && wav2.sampleRate == 8000 &&
      math.abs(wav2.durationSec - 0.5) < 1e-9)
    assert(Multimodal.parseWav("nope".getBytes).isEmpty)
    assert(Multimodal.parseWav(wavBytes(2, 44100, 16, 8).take(20)).isEmpty)

    // MP4: ftyp(isom) + moov{ mvhd v0 (timescale 600, duration 1500),
    // trak, trak } — duration 2.5 s, 2 tracks
    def mp4Bytes(timescale: Int, duration: Int, tracks: Int): Array[Byte] = {
      val mvhd = java.nio.ByteBuffer.allocate(108)
      mvhd.putInt(108).put("mvhd".getBytes("US-ASCII"))
        .putInt(0) // version 0 + flags
        .putInt(0).putInt(0) // creation, modification
        .putInt(timescale).putInt(duration)
      val trak = java.nio.ByteBuffer.allocate(8)
        .putInt(8).put("trak".getBytes("US-ASCII")).array()
      val moovBody = mvhd.array() ++ Array.fill(tracks)(trak).flatten
      val moov = java.nio.ByteBuffer.allocate(8 + moovBody.length)
        .putInt(8 + moovBody.length).put("moov".getBytes("US-ASCII"))
        .put(moovBody).array()
      val ftyp = java.nio.ByteBuffer.allocate(16)
        .putInt(16).put("ftyp".getBytes("US-ASCII"))
        .put("isom".getBytes("US-ASCII")).putInt(512).array()
      ftyp ++ moov
    }
    val mp4 = Multimodal.parseMp4(mp4Bytes(600, 1500, 2)).get
    assert(mp4.brand == "isom" && mp4.timescale == 600L &&
      mp4.durationUnits == 1500L && mp4.tracks == 2)
    assert(math.abs(mp4.durationSec - 2.5) < 1e-9)
    assert(Multimodal.parseMp4(Array.fill(32)(7.toByte)).isEmpty)

    // dataset path: real parses flagged, junk rows fall back disclosed
    val arows = Multimodal.decodeAudio(Multimodal.asBinaryMedia(
      Seq((0L, wavBytes(2, 44100, 16, 100)), (1L, Array[Byte](9, 9, 9)))
        .toDF("id", "blob"), "id", "blob", "audio/wav"))
      .collect().map(r => r.id -> r).toMap
    assert(arows(0L).parsed && arows(0L).sampleRate == 44100)
    assert(!arows(1L).parsed)
    val vrows = Multimodal.decodeVideo(Multimodal.asBinaryMedia(
      Seq((0L, mp4Bytes(1000, 30000, 1)), (1L, Array[Byte](9)))
        .toDF("id", "blob"), "id", "blob", "video/mp4"))
      .collect().map(r => r.id -> r).toMap
    assert(vrows(0L).parsed && vrows(0L).tracks == 1 &&
      math.abs(vrows(0L).durationSec - 30.0) < 1e-9)
    assert(!vrows(1L).parsed)
  }

  /** Brute-force union-find over a pair list (the oracle for CC). */
  private def ufComponents(pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    val parent = scala.collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    pairs.foreach { case (a, b) =>
      val (ra, rb) = (find(a), find(b))
      if (ra != rb) { if (ra < rb) parent(rb) = ra else parent(ra) = rb }
    }
    // path-compress everything, then re-minimize (union by min above keeps
    // the min root, but compress to be safe)
    parent.keys.toSeq.map(k => k -> find(k)).toMap
  }

  test("connectedComponents == union-find on random pair graphs") {
    val rnd = new scala.util.Random(7L)
    for (trial <- 1 to 5) {
      val n = 30 + rnd.nextInt(40)
      val pairs = Seq.fill(n) {
        val a = rnd.nextInt(60).toLong; val b = rnd.nextInt(60).toLong
        (a, b)
      }.filter(p => p._1 != p._2)
      val got = Dedup.connectedComponents(
        pairs.toDF("ia", "ib"), "ia", "ib")
        .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
      val exp = ufComponents(pairs)
      assert(got == exp, s"trial $trial: $got\nvs\n$exp")
    }
  }

  test("connectedComponents collapses chains (transitivity across pairs)") {
    // a~b, b~c, c~d: one cluster rooted at the min although a~d never paired
    val got = Dedup.connectedComponents(
      Seq((10L, 7L), (10L, 12L), (12L, 30L)).toDF("ia", "ib"), "ia", "ib")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(7L -> 7L, 10L -> 7L, 12L -> 7L, 30L -> 7L))
    // empty input
    assert(Dedup.connectedComponents(
      Seq.empty[(Long, Long)].toDF("ia", "ib"), "ia", "ib").isEmpty)
  }

  test("textProfileSignature: Nutch profile law, bit-exact md5") {
    val docs = Seq(
      (1L, "alpha beta gamma delta epsilon"),
      (2L, "epsilon delta gamma beta alpha"),  // permutation → collides
      (3L, "alpha beta gamma delta zeta"),     // one-token edit → differs
      (4L, "foo bar foo baz foo qux"),         // maxFreq 3 → quant 2
      (5L, "foo one two foo three foo"),       // same profile "foo 2"
      (6L, "a an of"))                         // all tokens <= 2 chars → ""
      .toDF("doc_id", "text")
    val got = Dedup.textProfileSignature(docs, "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getBoolean(2)))
    def md5hex(s: String): String =
      java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    // doc 1/2: all counts 1 (maxFreq 1 → quant 1), count-desc then
    // token-asc tie order
    val p12 = md5hex("alpha 1\nbeta 1\ndelta 1\nepsilon 1\ngamma 1")
    assert(got(0) === ((1L, p12, true)))
    assert(got(1) === ((2L, p12, true)))
    assert(got(2)._2 !== p12)
    assert(!got(2)._3)
    // docs 4/5: quant clamps to 2, frequency-1 tokens vanish → "foo 2"
    val p45 = md5hex("foo 2")
    assert(got(3) === ((4L, p45, true)))
    assert(got(4) === ((5L, p45, true)))
    // doc 6: nothing survives the minTokenLen filter → md5 of ""
    assert(got(5) === ((6L, md5hex(""), false)))
  }

  test("canonicalize drops the cluster roots (survivors)") {
    val got = Dedup.canonicalize(
      Seq((5L, 2L), (5L, 9L), (1L, 4L)).toDF("ia", "ib"), "ia", "ib")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == Map(5L -> 2L, 9L -> 2L, 4L -> 1L))
  }
}
