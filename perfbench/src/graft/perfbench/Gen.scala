package graft.perfbench

import java.security.MessageDigest
import java.util.SplittableRandom

/** One keyed measurement row. `t` is epoch microseconds. */
final case class Obs(key: Int, t: Long, z: Double, x: Double, y: Double, z2: Double, s0: Double, s1: Double)

/** Traffic dimensions of one generated input, recorded in every report. */
final case class Traffic(keys: Int, rows: Int, zipf: Double, dupShare: Double, rate: Double) {
  def json: String =
    s"""{"keys":$keys,"rows":$rows,"zipf_s":$zipf,"dup_key_time_share":$dupShare,"offered_rate_per_s":$rate}"""
}

/**
 * Seeded, deterministic generator of keyed measurement streams. Keys follow
 * a Zipf(s) law over `keys` ids, so a few hot keys carry long histories.
 * Every key has its own latent model: a local level (for `z`), a line
 * y = a + b x, a squared line z2 = (a + b x)^2 for the nonlinear filters, and
 * one of three 2-d clusters for the mixture sample (s0, s1). With
 * `dupShare` > 0 that share of rows repeats the previous (key, time) of its
 * key with a fresh measurement, which exercises the batch tiebreak path.
 */
object Gen {
  val BaseMicros: Long = 1700000000000000L

  def key(k: Int): String = f"k$k%05d"

  /** Inverse-CDF Zipf sampler over 1..n (returned 0-based). */
  final class Zipf(n: Int, s: Double) {
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1, s))
      val tot = w.sum
      var acc = 0.0
      w.map { v => acc += v / tot; acc }
    }
    def sample(r: SplittableRandom): Int = {
      val u = r.nextDouble()
      val i = java.util.Arrays.binarySearch(cdf, u)
      math.min(if (i >= 0) i else -i - 1, n - 1)
    }
  }

  /** `rows` observations; row i is due at BaseMicros + i * stepMicros. */
  def observations(seed: Long, keys: Int, rows: Int, zipf: Double, dupShare: Double,
      stepMicros: Long = 1000000L): Array[Obs] = {
    val r = new SplittableRandom(seed)
    val z = new Zipf(keys, zipf)
    val level = Array.fill(keys)(r.nextDouble() * 20 - 10)
    val a = Array.fill(keys)(r.nextDouble() * 4 - 2)
    val b = Array.fill(keys)(r.nextDouble() * 2 - 1)
    val cluster = Array.fill(keys)(r.nextInt(3))
    val lastT = Array.fill(keys)(Long.MinValue)
    Array.tabulate(rows) { i =>
      val k = z.sample(r)
      val dup = lastT(k) != Long.MinValue && r.nextDouble() < dupShare
      val t = if (dup) lastT(k) else BaseMicros + i * stepMicros
      lastT(k) = t
      level(k) += r.nextGaussian() * 0.1
      val x = r.nextDouble() * 4 - 2
      val line = a(k) + b(k) * x
      val c = cluster(k)
      Obs(k, t, level(k) + r.nextGaussian(), x, line + r.nextGaussian() * 0.3,
        line * line + r.nextGaussian() * 0.5,
        c * 3.0 + r.nextGaussian(), (c - 1) * 2.0 + r.nextGaussian())
    }
  }

  /** SHA-256 over every generated value, in generation order. */
  def digest(obs: Array[Obs]): String = {
    val md = MessageDigest.getInstance("SHA-256")
    val buf = java.nio.ByteBuffer.allocate(60)
    obs.foreach { o =>
      buf.clear()
      buf.putInt(o.key).putLong(o.t)
      Seq(o.z, o.x, o.y, o.z2, o.s0, o.s1).foreach(d => buf.putLong(java.lang.Double.doubleToRawLongBits(d)))
      md.update(buf.array(), 0, buf.position())
    }
    md.digest().map(b => f"${b & 0xff}%02x").mkString
  }

  /** Share of rows whose (key, time) equals an earlier row's. */
  def dupShare(obs: Array[Obs]): Double = {
    val seen = new java.util.HashSet[(Int, Long)]()
    obs.count(o => !seen.add((o.key, o.t))).toDouble / obs.length
  }
}
