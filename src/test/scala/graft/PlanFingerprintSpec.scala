package graft

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Per-query physical-plan fingerprint gate (round-7 verdict item 3):
  * the golden shuffle-exchange and broadcast-exchange count for every
  * registered query, checked in at `src/test/resources/
  * plan_fingerprints.tsv`. A refactor that adds an Exchange — the
  * regression class that silently costs a full-data reshuffle at
  * 100 TB — now fails the suite with a per-query diff instead of
  * landing unnoticed; this locks in the round-3→8 plan work
  * permanently.
  *
  * Protocol: the counts come from the `executedPlan`s of the one
  * registry planning pass that PlanAuditSpec also reads
  * ([[RegistryPlans]]): sf0.001, AQE OFF (the gate pins the STATIC plan
  * Catalyst produces — AQE's runtime rewrites are measured by Bench, not
  * asserted here), every LocalFastPath site off (the distributed plans
  * that run at 100 TB, not the in-process shortcuts that are always
  * taken at sf0.001), shuffle.partitions as in SparkSpec, default
  * broadcast threshold, and CacheScope audit mode on so scoped operators
  * expose their interior plans. `ReusedExchange` nodes deliberately do
  * not count — reuse is the optimization, not a new shuffle.
  *
  * After an INTENTIONAL plan change, regenerate with:
  *   SPARK_GRAFT_REGEN_FINGERPRINTS=1 sbt 'testOnly graft.PlanFingerprintSpec'
  * and commit the diff (it is the reviewable record of what the change
  * cost or saved).
  */
class PlanFingerprintSpec extends SparkSpec {

  private val goldenPath = Paths.get("src/test/resources/plan_fingerprints.tsv")

  test("every query's shuffle/broadcast count matches the golden fingerprint") {
    val current = RegistryPlans.all.map(q => (q.name, q.shuffles, q.broadcasts))
    if (sys.env.contains("SPARK_GRAFT_REGEN_FINGERPRINTS")) {
      val body = ("# query\tshuffles\tbroadcasts" +:
        current.map { case (n, s, b) => s"$n\t$s\t$b" }).mkString("", "\n", "\n")
      Files.createDirectories(goldenPath.getParent)
      Files.write(goldenPath, body.getBytes(StandardCharsets.UTF_8))
      info(s"regenerated ${goldenPath} (${current.size} queries)")
    } else {
      assert(Files.exists(goldenPath),
        s"missing $goldenPath — generate with SPARK_GRAFT_REGEN_FINGERPRINTS=1")
      val golden = Files.readAllLines(goldenPath).asScala
        .filterNot(l => l.startsWith("#") || l.isEmpty)
        .map { l =>
          val Array(n, s, b) = l.split("\t")
          n -> (s.toInt, b.toInt)
        }.toMap
      val diffs = current.flatMap { case (n, s, b) =>
        golden.get(n) match {
          case None => Some(s"$n: NEW query — regenerate the fingerprint file")
          case Some((gs, gb)) if gs != s || gb != b =>
            Some(s"$n: shuffles $gs→$s, broadcasts $gb→$b")
          case _ => None
        }
      }
      val removed = golden.keySet -- current.map(_._1).toSet
      assert(diffs.isEmpty && removed.isEmpty,
        ("plan fingerprints changed — if INTENTIONAL, regenerate with " +
          "SPARK_GRAFT_REGEN_FINGERPRINTS=1 and commit the diff:\n  " +
          (diffs ++ removed.map(n => s"$n: removed")).mkString("\n  ")))
    }
  }
}
