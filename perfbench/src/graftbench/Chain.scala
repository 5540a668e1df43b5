package graftbench

import scala.collection.mutable.ArrayBuffer

import graft.model.FilterConfig

/** One generated log, in wire terms. `txIndex` is unique within a block, so
  * the store's append order (block_num, tx_index, tx_hash) is total and the
  * expected `indx` of every canonical log is known in advance.
  */
final case class GLog(blockNum: Long, blockHash: String, txIndex: Long,
    txHash: String, address: String, topics: Vector[String], data: String)

final case class GBlock(number: Long, hash: String, parentHash: String,
    logs: Vector[GLog])

/** Traffic shape of a generated chain: logs per block before the
  * server-side filter. The per-height profile (stratified lognormal
  * quantiles in a fixed order, bursts at fixed heights) is the same for
  * every seed, so every seed meets the same batch sizes and refusals; the
  * seed draws the content (addresses, topics, hashes, data), which moves
  * which logs the filter keeps.
  */
final case class ChainSpec(
    /** Median logs per block before the server-side filter. */
    medianLogs: Double,
    /** Lognormal sigma of logs per block (heavy right tail). */
    sigma: Double,
    /** Hard cap on the lognormal draw. */
    maxLogs: Int,
    /** Bursts: `bursts` runs of `burstLen` blocks at `burstLogs` logs each. */
    bursts: Int = 0,
    burstLen: Int = 0,
    burstLogs: Int = 0)

object Chain {
  /** Address pool; the standing filter tracks the first six. */
  val addresses: Vector[String] =
    (1 to 8).map(i => f"0x${i * 0x1111111}%040x").toVector
  val transfer: String = "0x" + "ddf252ad" * 8
  val approval: String = "0x" + "8c5be1e5" * 8
  /** What the tracker subscribes to: 6 of 8 addresses, topic0 = Transfer. */
  val filter: FilterConfig = FilterConfig(
    addresses = addresses.take(6), topics = Seq(Some(transfer)))

  def hashOf(parts: Any*): String = {
    val md = java.security.MessageDigest.getInstance("SHA-256")
    md.update(parts.mkString(":").getBytes("UTF-8"))
    "0x" + md.digest().map("%02x".format(_)).mkString
  }

  /** Does the standing filter (or any eth_getLogs filter) keep `l`? */
  def matches(l: GLog, addrs: Option[Set[String]],
      topics: Seq[Option[String]]): Boolean =
    addrs.forall(_.contains(l.address)) && topics.zipWithIndex.forall {
      case (Some(t), i) => i < l.topics.length && l.topics(i) == t
      case (None, _) => true
    }

  def tracked(l: GLog): Boolean =
    matches(l, Some(filter.addresses.toSet), filter.topics)
}

/** Seeded chain and fork generator. Every block hash depends on the seed,
  * the lineage tag and the height, so forks are distinct blocks.
  */
final class ChainGen(seed: Long, spec: ChainSpec) {
  private val rnd = new java.util.Random(seed)

  /** Per-height pre-filter log counts for heights `[0, n)`; the same for
    * every seed.
    */
  def densities(n: Int): Array[Int] = {
    val base = Array.tabulate(n) { k =>
      val z = Stats.normalQuantile((k + 0.5) / n)
      math.min(spec.maxLogs,
        math.round(spec.medianLogs * math.exp(spec.sigma * z)).toInt)
    }
    val order = new java.util.Random(0x6a09e667L)
    for (i <- n - 1 until 0 by -1) {
      val j = order.nextInt(i + 1)
      val t = base(i); base(i) = base(j); base(j) = t
    }
    // bursts spread evenly over the chain, clear of both ends
    if (spec.bursts > 0) {
      val slot = (n - 20) / spec.bursts
      (0 until spec.bursts).foreach { j =>
        val start = 10 + j * slot + slot / 4
        (start until math.min(n, start + spec.burstLen))
          .foreach(h => base(h) = spec.burstLogs)
      }
    }
    base
  }

  /** A block at `number` on lineage `tag` whose parent is `parent`. */
  def block(number: Long, tag: String, parent: String, nLogs: Int): GBlock = {
    val hash = Chain.hashOf(seed, tag, number)
    val logs = Vector.tabulate(nLogs) { i =>
      val a = Chain.addresses(rnd.nextInt(Chain.addresses.length))
      val t0 = if (rnd.nextInt(100) < 85) Chain.transfer else Chain.approval
      val from = "0x" + "%064x".format(rnd.nextInt(1 << 20))
      val data = "0x" + "%064x".format(rnd.nextLong() & Long.MaxValue)
      GLog(number, hash, i.toLong, Chain.hashOf(hash, "tx", i), a,
        Vector(t0, from), data)
    }
    GBlock(number, hash, parent, logs)
  }

  /** Linear chain of heights `[0, counts.length)`. */
  def linear(counts: Array[Int], tag: String = "main"): Vector[GBlock] = {
    val out = ArrayBuffer.empty[GBlock]
    var parent = "0x" + "0" * 64
    counts.indices.foreach { h =>
      val b = block(h.toLong, tag, parent, counts(h))
      out += b
      parent = b.hash
    }
    out.toVector
  }

  /** Replace the top `depth` blocks of `chain` with a new lineage and extend
    * it by one block: the new tip is one higher than the old head.
    */
  def fork(chain: Vector[GBlock], depth: Int, tag: String,
      nLogs: Long => Int): Vector[GBlock] = {
    val out = ArrayBuffer.from(chain.dropRight(depth))
    (0 to depth).foreach { _ =>
      val n = out.last.number + 1
      out += block(n, tag, out.last.hash, nLogs(n))
    }
    out.toVector
  }
}

object Stats {
  /** Acklam's rational approximation of the standard normal quantile. */
  def normalQuantile(p: Double): Double = {
    val a = Array(-3.969683028665376e+01, 2.209460984245205e+02,
      -2.759285104469687e+02, 1.383577518672690e+02,
      -3.066479806614716e+01, 2.506628277459239e+00)
    val b = Array(-5.447609879822406e+01, 1.615858368580409e+02,
      -1.556989798598866e+02, 6.680131188771972e+01, -1.328068155288572e+01)
    val c = Array(-7.784894002430293e-03, -3.223964580411365e-01,
      -2.400758277161838e+00, -2.549732539343734e+00,
      4.374664141464968e+00, 2.938163982698783e+00)
    val d = Array(7.784695709041462e-03, 3.224671290700398e-01,
      2.445134137142996e+00, 3.754408661907416e+00)
    val lo = 0.02425
    if (p < lo) {
      val q = math.sqrt(-2 * math.log(p))
      (((((c(0) * q + c(1)) * q + c(2)) * q + c(3)) * q + c(4)) * q + c(5)) /
        ((((d(0) * q + d(1)) * q + d(2)) * q + d(3)) * q + 1)
    } else if (p > 1 - lo) {
      -normalQuantile(1 - p)
    } else {
      val q = p - 0.5
      val r = q * q
      (((((a(0) * r + a(1)) * r + a(2)) * r + a(3)) * r + a(4)) * r + a(5)) * q /
        (((((b(0) * r + b(1)) * r + b(2)) * r + b(3)) * r + b(4)) * r + 1)
    }
  }

  /** Linear-interpolated quantile of `xs` at `q` in [0, 1]. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.length - 1)
      val i = pos.toInt
      if (i + 1 >= s.length) s.last
      else s(i) + (pos - i) * (s(i + 1) - s(i))
    }

  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  def geomean(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN else math.exp(xs.map(math.log).sum / xs.length)
}
