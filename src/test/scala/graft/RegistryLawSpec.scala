package graft

import graft.operators.Checkpoints

/** The pin registry law: a query id built and consumed inside one
  * [[Checkpoints.scoped]] unit leaves the session's persistent-RDD
  * registry as it found it. Every pin an id takes has one owner: a
  * scope inside the operator, the round loop, or the caller, who holds
  * the returned plan and so releases the checkpoints it embeds. */
class RegistryLawSpec extends SparkSpec {

  test("registry law: every query id releases, at its caller's scope, every RDD it pins") {
    val sc = spark.sparkContext
    val t0 = System.nanoTime()
    val leaks = Queries.all.flatMap { case (id, q) =>
      // each snapshot holds its RDDs strongly: a leaked pin cannot be
      // garbage collected (and so unregistered) before the check
      val before = sc.getPersistentRDDs
      val seen = Checkpoints.scoped(spark) { pins =>
        val df = pins.hold(q(spark, sfDir))
        val built = sc.getPersistentRDDs
        // consume the id's own physical plan, as Bench does
        df.queryExecution.toRdd.count()
        (built, sc.getPersistentRDDs)
      }
      val after = sc.getPersistentRDDs.keySet
      java.lang.ref.Reference.reachabilityFence((before, seen))
      if (after == before.keySet) None
      else Some(s"$id: +${(after -- before.keySet).size} -${(before.keySet -- after).size}")
    }
    info(f"${Queries.all.size} ids in ${(System.nanoTime() - t0) / 1e9}%.1f s")
    assert(Queries.all.size == 277)
    if (leaks.nonEmpty) fail(leaks.mkString(s"${leaks.size} ids change the registry:\n", "\n", ""))
  }
}
