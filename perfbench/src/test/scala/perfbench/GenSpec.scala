package perfbench

import org.scalatest.funsuite.AnyFunSuite

class GenSpec extends AnyFunSuite {

  test("one seed gives one Zipf sequence, another seed another") {
    def draw(seed: Long) = { val z = new Gen.Zipf(1000, 1.0, seed); Vector.fill(500)(z.next()) }
    assert(draw(7) == draw(7))
    assert(draw(7) != draw(8))
  }

  test("Zipf(1) puts 1/H(n) of the draws on the first rank") {
    val n = 1000
    val z = new Gen.Zipf(n, 1.0, 42)
    val draws = Vector.fill(200000)(z.next())
    assert(draws.forall(d => d >= 0 && d < n))
    val h = (1 to n).map(1.0 / _).sum
    val top = draws.count(_ == 0).toDouble / draws.size
    assert(math.abs(top - 1.0 / h) < 0.01, s"rank-0 share $top, want ${1.0 / h}")
    assert(draws.count(_ == 1) > draws.count(_ == 10))
  }

  test("permutations and chains are seeded") {
    val p = Gen.permutation(100, 3)
    assert(p.sorted.toSeq == (0 until 100))
    assert(p.toSeq == Gen.permutation(100, 3).toSeq)
    assert(p.toSeq != Gen.permutation(100, 4).toSeq)
    def chains(seed: Long) = { val c = new Gen.Chains(50, 4, seed); Vector.fill(20)(c.next()) }
    assert(chains(5) == chains(5))
    assert(chains(5) != chains(6))
    assert(chains(5).forall(c => c.size == 4 && c.forall(e => e >= 0 && e < 50)))
  }

  test("the request mix is seeded and keeps its proportions") {
    def mix(seed: Long) = { val m = new Gen.Mix(2000, 1.0, seed); Vector.fill(20000)(m.next()) }
    val a = mix(11)
    assert(a == mix(11))
    assert(a != mix(12))
    def share(k: Gen.Kind) = a.count(_.kind == k).toDouble / a.size
    assert(math.abs(share(Gen.Invoke) - 0.70) < 0.02)
    assert(math.abs(share(Gen.Read) - 0.20) < 0.02)
    assert(math.abs(share(Gen.Create) - 0.05) < 0.01)
    assert(math.abs(share(Gen.Ping) - 0.05) < 0.01)
    assert(a.forall(r => r.delta >= 1 && r.delta <= 9))
  }
}
