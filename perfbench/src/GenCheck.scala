package graft.perfbench

/** The generators' own check: the same seed gives identical inputs,
  * another seed different ones, for every generator.
  */
object GenCheck {
  private def digests(seed: Long): Seq[(String, String)] = {
    val m = Gen.mixture(seed, 8, 16, 0.4)
    val c = Gen.corpus(m, seed, 2000)
    Seq(
      "mixture" -> Gen.vecDigest(m.centres.iterator),
      "corpus" -> (Gen.vecDigest(c.vecs.iterator) + c.labels.mkString(",")),
      "queries" -> Gen.vecDigest(Gen.queries(m, seed, 100).iterator),
      "shard" -> Gen.digest(Gen.shard(seed, 0, 400).iterator.map(d => s"${d.docId}|${d.source}|${d.role}|${d.text}")))
  }

  def run(): Boolean = {
    val seeds = Seq(1L, 2L, 12345L)
    val ok = seeds.forall { s =>
      val a = digests(s); val b = digests(s); val other = digests(s + 1)
      a.zip(b).zip(other).forall { case (((name, x), (_, y)), (_, z)) =>
        val pass = x == y && x != z
        println(s"# generator $name seed=$s: ${if (pass) "ok" else "FAILED"} " +
          s"(same seed ${if (x == y) "identical" else "DIFFERS"}, next seed ${if (x != z) "differs" else "IDENTICAL"})")
        pass
      }
    }
    println(s"""{"generators_ok": $ok}""")
    ok
  }
}
