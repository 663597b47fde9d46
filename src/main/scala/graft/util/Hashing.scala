package graft.util

/** Deterministic, seed-driven hash primitives used across the engine
  * (MinHash permutations, SimHash token hashing, synthetic data generation).
  *
  * All functions are pure and platform-independent: no `java.util.Random`
  * state, no locale, no wall clock. splitmix64 is the public-domain mixer
  * from Steele et al., "Fast Splittable Pseudorandom Number Generators"
  * (OOPSLA 2014); FNV-1a per the public FNV spec.
  */
object Hashing {
  /** splitmix64 finalizer: avalanching 64-bit mix. */
  @inline def splitmix64(x0: Long): Long = {
    var x = x0 + 0x9e3779b97f4a7c15L
    x = (x ^ (x >>> 30)) * 0xbf58476d1ce4e5b9L
    x = (x ^ (x >>> 27)) * 0x94d049bb133111ebL
    x ^ (x >>> 31)
  }

  /** Combine a seed with a value, then mix. */
  @inline def mix(seed: Long, v: Long): Long = splitmix64(seed ^ (v * 0xff51afd7ed558ccdL))

  /** FNV-1a 64-bit over UTF-8 bytes of a string. Stable across JVMs. */
  def fnv1a64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    val bytes = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    while (i < bytes.length) {
      h ^= (bytes(i) & 0xffL)
      h *= 0x100000001b3L
      i += 1
    }
    h
  }
}
