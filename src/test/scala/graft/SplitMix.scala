package graft

/** A splitmix64-style mixer for crafted test hashes: sequential ids
  * come out spread over all 64 bits, so distinct groups are
  * band-decorrelated like real dHashes (sequential hex would make
  * every pair a band collision). */
object SplitMix {
  def mix(i: Long): Long = {
    var x = i * 0x9E3779B97F4A7C15L
    x ^= x >>> 32; x *= 0xBF58476D1CE4E5B9L; x ^= x >>> 29; x
  }
}
