package graft.index

/** Solr's compositeId document router, bit-exact
  * (`solr/solrj/src/java/org/apache/solr/common/cloud/CompositeIdRouter
  * .java:35-330` over `common/util/Hash.java:242-420` MurmurHash3
  * x86_32): ids route by the murmur3 of the id string (computed over its
  * UTF-8 byte stream); a `shard!id` composite takes its TOP 16 bits from
  * the shard key's hash and the rest from the id's (`user/4!id` resizes
  * the split; `a!b!c` goes 8/8/16 tri-level), so one route key's docs
  * land in one contiguous hash range — `keyHashRange` is what makes
  * route-key-scoped queries prune to one shard at 10¹² docs.
  * `partitionRange` reproduces the shard-splitting arithmetic including
  * the round-to-hash-domain-boundary rule.
  *
  * CompositeIdSpec pins murmur3 against Guava's independent
  * implementation (random byte arrays), the CharSequence form against
  * the UTF-8 byte form (the reference's own TestHash equivalence law,
  * surrogates included), and the mask/range laws on hand-computed cases.
  */
object CompositeId {

  /** MurmurHash3 x86_32 over bytes (Austin Appleby's public-domain
    * algorithm, `Hash.java:242-296`).
    */
  def murmur3Bytes(data: Array[Byte], offset: Int, len: Int,
      seed: Int): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h1 = seed
    val roundedEnd = offset + (len & 0xfffffffc)
    var i = offset
    while (i < roundedEnd) {
      var k1 = (data(i) & 0xff) | ((data(i + 1) & 0xff) << 8) |
        ((data(i + 2) & 0xff) << 16) | (data(i + 3) << 24)
      k1 *= c1; k1 = (k1 << 15) | (k1 >>> 17); k1 *= c2
      h1 ^= k1; h1 = (h1 << 13) | (h1 >>> 19); h1 = h1 * 5 + 0xe6546b64
      i += 4
    }
    var k1 = 0
    val rem = len & 3
    if (rem == 3) k1 ^= (data(roundedEnd + 2) & 0xff) << 16
    if (rem >= 2) k1 ^= (data(roundedEnd + 1) & 0xff) << 8
    if (rem >= 1) {
      k1 ^= data(roundedEnd) & 0xff
      k1 *= c1; k1 = (k1 << 15) | (k1 >>> 17); k1 *= c2
      h1 ^= k1
    }
    h1 ^= len
    h1 ^= h1 >>> 16; h1 *= 0x85ebca6b
    h1 ^= h1 >>> 13; h1 *= 0xc2b2ae35
    h1 ^= h1 >>> 16
    h1
  }

  /** MurmurHash3 x86_32 of a CharSequence as if over its UTF-8 encoding,
    * without materializing the bytes — the streaming k1/k2/shift law of
    * `Hash.java:299-420` (unpaired trailing surrogates encode as 3
    * bytes, pairs as 4; `nBytes` is the UTF-8 length fed to the final
    * mix).
    */
  def murmur3(data: CharSequence, offset: Int, len: Int, seed: Int): Int = {
    val c1 = 0xcc9e2d51
    val c2 = 0x1b873593
    var h1 = seed
    var pos = offset
    val end = offset + len
    var k1 = 0
    var k2 = 0
    var shift = 0
    var bits = 0
    var nBytes = 0
    while (pos < end) {
      val code = data.charAt(pos).toInt
      pos += 1
      if (code < 0x80) {
        k2 = code; bits = 8
      } else if (code < 0x800) {
        k2 = (0xC0 | (code >> 6)) | ((0x80 | (code & 0x3F)) << 8)
        bits = 16
      } else if (code < 0xD800 || code > 0xDFFF || pos >= end) {
        // pos >= end: an unpaired trailing surrogate encodes as 3 bytes
        k2 = (0xE0 | (code >> 12)) | ((0x80 | ((code >> 6) & 0x3F)) << 8) |
          ((0x80 | (code & 0x3F)) << 16)
        bits = 24
      } else {
        // surrogate pair
        var utf32 = data.charAt(pos).toInt
        pos += 1
        utf32 = ((code - 0xD7C0) << 10) + (utf32 & 0x3FF)
        k2 = (0xff & (0xF0 | (utf32 >> 18))) |
          ((0x80 | ((utf32 >> 12) & 0x3F)) << 8) |
          ((0x80 | ((utf32 >> 6) & 0x3F)) << 16) |
          ((0x80 | (utf32 & 0x3F)) << 24)
        bits = 32
      }
      k1 |= k2 << shift
      shift += bits
      if (shift >= 32) {
        k1 *= c1; k1 = (k1 << 15) | (k1 >>> 17); k1 *= c2
        h1 ^= k1; h1 = (h1 << 13) | (h1 >>> 19); h1 = h1 * 5 + 0xe6546b64
        shift -= 32
        k1 = if (shift != 0) k2 >>> (bits - shift) else 0
        nBytes += 4
      }
    }
    if (shift > 0) {
      nBytes += shift >> 3
      k1 *= c1; k1 = (k1 << 15) | (k1 >>> 17); k1 *= c2
      h1 ^= k1
    }
    h1 ^= nBytes
    h1 ^= h1 >>> 16; h1 *= 0x85ebca6b
    h1 ^= h1 >>> 13; h1 *= 0xc2b2ae35
    h1 ^= h1 >>> 16
    h1
  }

  /** Signed 32-bit hash range [min, max], `DocRouter.Range`. */
  final case class HashRange(min: Int, max: Int) {
    require(min <= max, s"bad range [$min, $max]")
    def includes(h: Int): Boolean = h >= min && h <= max
    def overlaps(o: HashRange): Boolean = includes(o.min) || o.includes(min)
  }

  val FullRange: HashRange = HashRange(Int.MinValue, Int.MaxValue)

  /** The routing hash of an id (`CompositeIdRouter.sliceHash:49-63`):
    * murmur3 of the plain id, or the composite KeyParser combination.
    */
  def sliceHash(id: String): Int =
    if (id.indexOf('!') < 0) murmur3(id, 0, id.length, 0)
    else new KeyParser(id).getHash

  /** The contiguous hash range a route key's documents occupy
    * (`CompositeIdRouter.keyHashRange:66-73`).
    */
  def keyHashRange(routeKey: String): HashRange =
    if (routeKey.indexOf('!') < 0) {
      val h = sliceHash(routeKey)
      HashRange(h, h)
    } else new KeyParser(routeKey).getRange

  /** Shard index of an id under the given ranges (HashBasedRouter
    * hashToSlice: the slice whose range includes the hash).
    */
  def shardOf(id: String, ranges: Seq[HashRange]): Int = {
    val h = sliceHash(id)
    val i = ranges.indexWhere(_.includes(h))
    require(i >= 0, s"no range includes hash $h of '$id'")
    i
  }

  /** Split a hash range into `partitions` contiguous ranges
    * (`CompositeIdRouter.partitionRange:128-168`): even steps with the
    * round-to-hash-domain-boundary rule (only active once a step spans
    * ≥ 16 whole 16-bit domains), last range pinned to max.
    */
  def partitionRange(partitions: Int,
      range: HashRange = FullRange): Seq[HashRange] = {
    val min = range.min
    val max = range.max
    if (partitions == 0) return Nil
    val rangeSize = max.toLong - min.toLong
    val rangeStep = math.max(1L, rangeSize / partitions)
    val mask = 0x0000ffff
    val round = rangeStep >= (1L << 16) * 16
    val ranges = Seq.newBuilder[HashRange]
    var n = 0
    var start = min.toLong
    var end = start
    var targetStart = min.toLong
    while (end < max) {
      val targetEnd = targetStart + rangeStep
      end = targetEnd
      if (round && (end & mask) != mask) {
        val increment = 1 << 16
        val roundDown = (end | mask) - increment
        val roundUp = (end | mask) + increment
        end = if (end - roundDown < roundUp - end && roundDown > start)
          roundDown else roundUp
      }
      if (n == partitions - 1) end = max
      ranges += HashRange(start.toInt, end.toInt)
      n += 1
      start = end + 1L
      targetStart = targetEnd + 1L
    }
    ranges.result()
  }

  /** `CompositeIdRouter.KeyParser` (:172-322): up to three `!`-separated
    * parts with optional `/n` bit allocations; two-level defaults 16
    * bits to the first part, tri-level 8/8; a trailing `!` adds an
    * empty-string piece; the SOLR-6257 back-compat quirks on trailing
    * separators are transcribed verbatim.
    */
  private final class KeyParser(key: String) {
    private val partsList = List.newBuilder[String]
    private val firstSep = key.indexOf('!')
    if (firstSep == -1) partsList += key
    else {
      partsList += key.substring(0, firstSep)
      val lastPos = key.length - 1
      if (firstSep < lastPos) {
        val secondSep = key.indexOf('!', firstSep + 1)
        if (secondSep == -1) partsList += key.substring(firstSep + 1)
        else if (secondSep == lastPos) {
          // exactly two separators as the last two chars: no more parts
          // (String.split back-compat, SOLR-6257)
          if (firstSep < secondSep - 1)
            partsList += key.substring(firstSep + 1, secondSep)
        } else {
          partsList += key.substring(firstSep + 1, secondSep)
          partsList += key.substring(secondSep + 1)
        }
      }
    }
    private val parts: Array[String] = partsList.result().toArray
    private var pieces = parts.length
    private val numBits = new Array[Int](2)
    if (key.endsWith("!") && pieces < 3) pieces += 1
    private val hashes = new Array[Int](pieces)
    private val triLevel = pieces == 3
    if (triLevel) { numBits(0) = 8; numBits(1) = 8 }
    else numBits(0) = 16
    locally {
      var i = 0
      while (i < pieces) {
        if (i < pieces - 1 && i < parts.length) {
          val commaIdx = parts(i).indexOf('/')
          if (commaIdx > 0) {
            numBits(i) = getNumBits(parts(i), commaIdx)
            parts(i) = parts(i).substring(0, commaIdx)
          }
        }
        hashes(i) =
          if (i >= parts.length) murmur3("", 0, 0, 0)
          else murmur3(parts(i), 0, parts(i).length, 0)
        i += 1
      }
    }
    private val masks: Array[Int] =
      if (triLevel) getBitMasks(numBits(0), numBits(1))
      else getBitMasks(numBits(0))

    def getHash: Int = {
      var result = hashes(0) & masks(0)
      var i = 1
      while (i < pieces) { result |= hashes(i) & masks(i); i += 1 }
      result
    }

    def getRange: HashRange = {
      var lowerBound = 0
      var upperBound = 0
      if (triLevel) {
        lowerBound = (hashes(0) & masks(0)) | (hashes(1) & masks(1))
        upperBound = lowerBound | masks(2)
      } else {
        lowerBound = hashes(0) & masks(0)
        upperBound = lowerBound | masks(1)
      }
      if ((masks(0) == 0 && !triLevel) ||
          (masks(0) == 0 && masks(1) == 0 && triLevel)) {
        // no routing bits: full signed space
        lowerBound = Int.MinValue
        upperBound = Int.MaxValue
      }
      HashRange(lowerBound, upperBound)
    }

    private def getNumBits(firstPart: String, commaIdx: Int): Int = {
      var v = 0
      var idx = commaIdx + 1
      while (idx < firstPart.length) {
        val ch = firstPart.charAt(idx)
        if (ch < '0' || ch > '9') return -1
        v = v * 10 + (ch - '0')
        idx += 1
      }
      if (v > 32) -1 else v
    }

    private def getBitMasks(firstBits: Int): Array[Int] = Array(
      if (firstBits == 0) 0 else -1 << (32 - firstBits),
      if (firstBits == 32) 0 else -1 >>> firstBits)

    private def getBitMasks(firstBits: Int, secondBits: Int): Array[Int] = {
      val m = new Array[Int](3)
      m(0) = if (firstBits == 0) 0 else -1 << (32 - firstBits)
      m(1) = if (firstBits + secondBits == 0) 0
        else -1 << (32 - firstBits - secondBits)
      m(1) = m(0) ^ m(1)
      m(2) = if (firstBits + secondBits == 32) 0 else ~(m(0) | m(1))
      m
    }
  }
}
