package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.index.CompositeId
import graft.index.CompositeId.FullRange

/** CompositeIdRouter bit-exactness (`solr/solrj/.../common/cloud/
  * CompositeIdRouter.java:35-330`, `common/util/Hash.java:242-420`):
  * murmur3 x86_32 cross-validated against Guava's INDEPENDENT
  * implementation; the CharSequence form against the UTF-8-bytes form
  * (the reference's own TestHash equivalence law); mask/range laws on
  * hand-computed cases.
  */
class CompositeIdSpec extends AnyFunSuite {

  test("murmur3 bytes == Guava murmur3_32 (independent implementation)") {
    val rnd = new scala.util.Random(4242L)
    for (_ <- 1 to 300) {
      val n = rnd.nextInt(40)
      val bytes = new Array[Byte](n)
      rnd.nextBytes(bytes)
      val guava = com.google.common.hash.Hashing.murmur3_32_fixed()
        .hashBytes(bytes).asInt()
      assert(CompositeId.murmur3Bytes(bytes, 0, n, 0) == guava,
        bytes.mkString(","))
    }
  }

  test("murmur3 CharSequence == murmur3 of the UTF-8 bytes") {
    val rnd = new scala.util.Random(77L)
    // well-formed strings only — the reference equivalence law is over
    // code points (TestHash.tstEquiv); unpaired surrogates are below
    val cps = Array('a'.toInt, 'b'.toInt, '0'.toInt, '!'.toInt, '/'.toInt,
      0xE9 /* é */, 0x4E16 /* 世 */, 0x1F600 /* 😀 */)
    def randStr(): String = {
      val sb = new java.lang.StringBuilder
      for (_ <- 1 to rnd.nextInt(24)) sb.appendCodePoint(cps(rnd.nextInt(cps.length)))
      sb.toString
    }
    for (i <- 1 to 500) {
      val s = randStr()
      val bytes = s.getBytes("UTF-8")
      assert(CompositeId.murmur3(s, 0, s.length, 0) ==
        CompositeId.murmur3Bytes(bytes, 0, bytes.length, 0), s"case $i")
    }
    // empty input
    assert(CompositeId.murmur3("", 0, 0, 0) == 0)
    // an unpaired TRAILING surrogate encodes as 3 bytes
    // (`Hash.java:350-356` — the pos>=end branch), not a replacement char
    val code = 0xD801
    val exp = Array[Byte]((0xE0 | (code >> 12)).toByte,
      (0x80 | ((code >> 6) & 0x3F)).toByte, (0x80 | (code & 0x3F)).toByte)
    val su = "x" + code.toChar
    assert(CompositeId.murmur3(su, 0, 2, 0) ==
      CompositeId.murmur3Bytes('x'.toByte +: exp, 0, 4, 0))
  }

  test("composite hash: top 16 bits from the shard key, rest from the id") {
    val h = CompositeId.sliceHash("user!doc7")
    val hUser = CompositeId.murmur3("user", 0, 4, 0)
    val hDoc = CompositeId.murmur3("doc7", 0, 4, 0)
    assert(h == ((hUser & 0xffff0000) | (hDoc & 0x0000ffff)))
    // plain ids hash whole
    assert(CompositeId.sliceHash("doc7") == hDoc)
    // every id under one route key lands inside the key's range
    val r = CompositeId.keyHashRange("user!")
    for (i <- 1 to 50)
      assert(r.includes(CompositeId.sliceHash(s"user!doc$i")))
    assert(r.min == (hUser & 0xffff0000))
    assert(r.max == ((hUser & 0xffff0000) | 0x0000ffff))
  }

  test("custom bit allocation user/4! and the /0 full-range form") {
    val hUser = CompositeId.murmur3("user", 0, 4, 0)
    val r4 = CompositeId.keyHashRange("user/4!")
    assert(r4.min == (hUser & 0xf0000000))
    assert(r4.max == ((hUser & 0xf0000000) | 0x0fffffff))
    // 0 bits from the route key: full signed space
    assert(CompositeId.keyHashRange("user/0!") == FullRange)
  }

  test("tri-level a!b!c goes 8/8/16") {
    val (ha, hb, hc) = (CompositeId.murmur3("a", 0, 1, 0),
      CompositeId.murmur3("b", 0, 1, 0), CompositeId.murmur3("c", 0, 1, 0))
    assert(CompositeId.sliceHash("a!b!c") ==
      ((ha & 0xff000000) | (hb & 0x00ff0000) | (hc & 0x0000ffff)))
  }

  test("trailing-separator quirks (SOLR-6257 back-compat)") {
    // "a!b!" (two separators as the last two chars... not here: second
    // sep IS last char) — "a!b!" parses as parts [a, b], pieces 3 via
    // the endsWith-! bump, third hash = hash("")
    val (ha, hb, he) = (CompositeId.murmur3("a", 0, 1, 0),
      CompositeId.murmur3("b", 0, 1, 0), CompositeId.murmur3("", 0, 0, 0))
    assert(CompositeId.sliceHash("a!b!") ==
      ((ha & 0xff000000) | (hb & 0x00ff0000) | (he & 0x0000ffff)))
    // "a!" → two-level, second piece the empty string
    assert(CompositeId.sliceHash("a!") ==
      ((ha & 0xffff0000) | (he & 0x0000ffff)))
  }

  test("partitionRange: contiguous cover, last pinned, shardOf total") {
    for (p <- Seq(1, 2, 7, 16)) {
      val rs = CompositeId.partitionRange(p)
      assert(rs.size == p)
      assert(rs.head.min == Int.MinValue && rs.last.max == Int.MaxValue)
      rs.sliding(2).foreach {
        case Seq(a, b) => assert(b.min == a.max + 1)
        case _ =>
      }
    }
    val ranges = CompositeId.partitionRange(8)
    for (id <- Seq("doc1", "user!doc2", "a!b!c", "x/4!y"))
      assert(ranges(CompositeId.shardOf(id, ranges))
        .includes(CompositeId.sliceHash(id)))
  }
}
