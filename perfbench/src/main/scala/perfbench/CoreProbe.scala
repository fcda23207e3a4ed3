package perfbench

import graft.core.{CardinalitySketch, WyHash}

/** Direct single-thread calls into `graft.core`, without Spark. Each figure
  * is the median of several timed rounds after warm-up rounds.
  */
object CoreProbe {
  private val Rounds = 7
  private val Warmup = 3
  @volatile private var sink = 0L

  /** Median seconds of one call of `round`, after warm-up. */
  private def perRound(round: () => Long): Double = {
    (1 to Warmup).foreach(_ => sink ^= round())
    Stats.median((1 to Rounds).map { _ =>
      val t0 = System.nanoTime()
      sink ^= round()
      Stats.seconds(t0)
    })
  }

  private def hashes(n: Int, salt: Long): Array[Long] =
    Array.tabulate(n)(i => Stats.mix(salt, 11, i.toLong))

  private def hll(salt: Long): CardinalitySketch = {
    val sk = CardinalitySketch(12)
    hashes(200000, salt).foreach(sk.insertHash)
    sk
  }

  /** Single-thread hash + insert of long items into a 2^12-register sketch,
    * per second: the host anchor that normalizes runs across hosts.
    */
  def anchorInsertsPerSecond(): Double = {
    val n = 2000000
    val s = perRound { () =>
      val sk = CardinalitySketch(12)
      var i = 0L
      while (i < n) { sk.insert(i); i += 1 }
      sk.estimate
    }
    n / s
  }

  def metrics(): Seq[Metric] = {
    val many = hashes(1 << 20, 1)
    val target = hll(2)
    val insertHll = perRound { () =>
      many.foreach(target.insertHash)
      target.estimate
    }

    val urls = Array.tabulate(1 << 14)(i => Pages.url(1, i.toLong, 1 << 14).getBytes("UTF-8"))
    val wyhash = perRound { () =>
      var acc = 0L
      var r = 0
      while (r < 16) { urls.foreach(u => acc ^= WyHash.hash(u)); r += 1 }
      acc
    }

    val sparseItems = 100
    val sparseSketches = 10000
    val sparse = perRound { () =>
      var acc = 0L
      var s = 0
      while (s < sparseSketches) {
        val sk = CardinalitySketch(12)
        var i = 0
        while (i < sparseItems) { sk.insertHash(many(s * sparseItems + i)); i += 1 }
        acc += sk.estimate
        s += 1
      }
      acc
    }

    val (a, b) = (hll(3), hll(4))
    val merges = 2000
    val merge = perRound { () =>
      var i = 0
      while (i < merges) { a.merge(b); i += 1 }
      a.estimate
    }
    val bytes = a.serialize()
    val serde = 2000
    val ser = perRound { () =>
      var acc = 0L
      var i = 0
      while (i < serde) { acc += a.serialize().length; i += 1 }
      acc
    }
    val de = perRound { () =>
      var acc = 0L
      var i = 0
      while (i < serde) { acc += CardinalitySketch.deserialize(bytes).estimate; i += 1 }
      acc
    }
    Seq(
      Metric("core.insert_hll_ns", insertHll / many.length * 1e9, "ns", Rounds,
        "pre-hashed insert into an HLL-mode sketch, p=12"),
      Metric("core.wyhash_url_ns", wyhash / (16.0 * urls.length) * 1e9, "ns", Rounds,
        "WyHash of one generated url"),
      Metric("core.insert_sparse_ns", sparse / (sparseSketches.toDouble * sparseItems) * 1e9,
        "ns", Rounds, s"per insert, filling fresh sketches to $sparseItems items"),
      Metric("core.merge_hll_us", merge / merges * 1e6, "us", Rounds, "HLL + HLL, p=12"),
      Metric("core.serialize_us", ser / serde * 1e6, "us", Rounds, "HLL mode, p=12"),
      Metric("core.deserialize_us", de / serde * 1e6, "us", Rounds, "HLL mode, p=12"),
      Metric("core.anchor_inserts_per_s", anchorInsertsPerSecond(), "1/s", Rounds,
        "single-thread hash + insert of longs"))
  }
}
