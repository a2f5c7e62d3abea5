package graft.align

/**
 * MT19937-64 (Matsumoto & Nishimura's 64-bit Mersenne Twister, public
 * algorithm), used for the alignment sample generator the way the
 * reference seeds std::mt19937_64(0) (pubgeo `src/align3d/align3d.cpp:119`).
 * The samples must come from ONE sequential stream in sid order, never
 * a per-partition RNG (SURVEY.md L3): the staged search draws them on
 * the driver, the dense search inside its one task, with the same draws
 * either way.
 *
 * `nextDouble` maps a 64-bit draw to [0, 1) via the standard 53-bit
 * construction (x >> 11) * 2^-53 — this engine's frozen uniform spec.
 */
final class Mt19937_64(seed: Long) {
  private val NN = 312
  private val mt = new Array[Long](NN)
  private var mti = NN + 1

  mt(0) = seed
  var i = 1
  while (i < NN) {
    mt(i) = 6364136223846793005L * (mt(i - 1) ^ (mt(i - 1) >>> 62)) + i
    i += 1
  }
  mti = NN

  def nextLong(): Long = {
    if (mti >= NN) {
      val mag01 = Array(0L, 0xB5026F5AA96619E9L)
      var j = 0
      while (j < NN - 156) {
        val x = (mt(j) & 0xFFFFFFFF80000000L) | (mt(j + 1) & 0x7FFFFFFFL)
        mt(j) = mt(j + 156) ^ (x >>> 1) ^ mag01((x & 1L).toInt)
        j += 1
      }
      while (j < NN - 1) {
        val x = (mt(j) & 0xFFFFFFFF80000000L) | (mt(j + 1) & 0x7FFFFFFFL)
        mt(j) = mt(j + (156 - NN)) ^ (x >>> 1) ^ mag01((x & 1L).toInt)
        j += 1
      }
      val x = (mt(NN - 1) & 0xFFFFFFFF80000000L) | (mt(0) & 0x7FFFFFFFL)
      mt(NN - 1) = mt(155) ^ (x >>> 1) ^ mag01((x & 1L).toInt)
      mti = 0
    }
    var x = mt(mti)
    mti += 1
    x ^= (x >>> 29) & 0x5555555555555555L
    x ^= (x << 17) & 0x71D67FFFEDA60000L
    x ^= (x << 37) & 0xFFF7EEE000000000L
    x ^= (x >>> 43)
    x
  }

  /** Uniform double in [0, 1). */
  def nextDouble(): Double = (nextLong() >>> 11) * (1.0 / 9007199254740992.0)
}
