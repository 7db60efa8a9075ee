package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.certs.Cert

/** The certificate registry's integrity, without a SparkSession: the
  * records only build query closures and oracle strings. */
class RegistrySpec extends AnyFunSuite {

  test("the registry indexes 344 certificates, each name once") {
    // Cert.index requires distinct names, so loading at all proves it
    assert(SparkEntry.queries.size === 344)
  }

  test("every query has an oracle and every oracle a query") {
    assert(SparkEntry.queries.keySet === SparkEntry.oracleSql.keySet)
  }

  test("no oracle SQL is blank") {
    assert(SparkEntry.oracleSql.collect { case (n, q) if q.trim.isEmpty => n }.isEmpty)
  }

  test("the index rejects a duplicated name") {
    val c = Cert("dup_name", (_, _) => throw new UnsupportedOperationException, "SELECT 1")
    val e = intercept[IllegalArgumentException](Cert.index(Seq(c, c.copy(oracleSql = "SELECT 2"))))
    assert(e.getMessage.contains("dup_name"))
  }

  test("plans/fingerprints.json holds one fingerprint per certificate") {
    // PlanAudit writes one `"name": {...}` line per query; a new
    // certificate without a fingerprint (or a stale one) fails here
    val line = "^\"([^\"]+)\": \\{".r
    val src = scala.io.Source.fromFile(PlanAudit.Out)
    val names = try src.getLines().flatMap(l => line.findPrefixMatchOf(l).map(_.group(1))).toList
      finally src.close()
    assert(names.size === names.distinct.size)
    assert(names.toSet === SparkEntry.queries.keySet)
  }
}
