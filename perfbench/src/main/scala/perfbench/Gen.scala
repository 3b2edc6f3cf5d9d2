package perfbench

import java.util.SplittableRandom

/** Seeded input generators. Every draw comes from a SplittableRandom built
  * from the workload seed, so one seed always yields the same inputs.
  */
object Gen {

  /** Zipf(s) over ranks 0 until n, sampled by inverse CDF. */
  final class Zipf(n: Int, s: Double, seed: Long) {
    require(n > 0)
    private val cdf: Array[Double] = {
      val w = Array.tabulate(n)(i => 1.0 / math.pow(i + 1.0, s))
      val out = new Array[Double](n)
      var acc = 0.0
      var i = 0
      while (i < n) { acc += w(i); out(i) = acc; i += 1 }
      i = 0
      while (i < n) { out(i) /= acc; i += 1 }
      out
    }
    private val rnd = new SplittableRandom(seed)

    def next(): Int = {
      val u = rnd.nextDouble()
      val j = java.util.Arrays.binarySearch(cdf, u)
      val idx = if (j >= 0) j else -j - 1
      math.min(idx, n - 1)
    }
  }

  /** A permutation of ranks 0 until n, so the hot Zipf ranks land on
    * entity ids the seed chooses rather than on the lowest ids.
    */
  def permutation(n: Int, seed: Long): Array[Int] = {
    val a = Array.range(0, n)
    val rnd = new SplittableRandom(seed)
    var i = n - 1
    while (i > 0) {
      val j = rnd.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a
  }

  /** The entity path of one EventFlow chain: `hops` entities drawn
    * uniformly from `entities`.
    */
  final class Chains(entities: Int, hops: Int, seed: Long) {
    private val rnd = new SplittableRandom(seed)
    def next(): Vector[Int] = Vector.fill(hops)(rnd.nextInt(entities))
  }

  /** Request kinds of the open-loop mix. */
  sealed trait Kind
  case object Invoke extends Kind
  case object Read extends Kind
  case object Create extends Kind
  case object Ping extends Kind
  /** Pre-population: SetState of an entity's initial counter. */
  case object Write extends Kind

  /** One open-loop request: its kind, the entity it targets (Zipf rank
    * mapped through the seed's permutation) and, for invokes, the delta.
    */
  final case class MixRequest(kind: Kind, entity: Int, delta: Long)

  /** 70% invoke, 20% read, 5% create, 5% ping over Zipf(s) entities. */
  final class Mix(entities: Int, zipfS: Double, seed: Long) {
    private val rnd = new SplittableRandom(seed)
    private val zipf = new Zipf(entities, zipfS, seed ^ 0x5DEECE66DL)
    private val perm = permutation(entities, seed + 1)
    def next(): MixRequest = {
      val u = rnd.nextInt(100)
      val kind = if (u < 70) Invoke else if (u < 90) Read else if (u < 95) Create else Ping
      val entity = perm(zipf.next())
      MixRequest(kind, entity, 1L + rnd.nextInt(9))
    }
  }
}
