package graft.functions

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession

/** The extensions installer makes graft_cosine available in a session that
  * never called GraftFunctions.register — the deployment path for a
  * cluster-wide config — with the same functions and planner strategies.
  * Uses its own session (newSession shares the function registry, so a
  * genuinely fresh SparkSession is built). */
class GraftExtensionsSpec extends AnyFunSuite {

  test("graft_cosine resolves via spark.sql.extensions") {
    // getOrCreate() would hand back the shared test session (whose registry
    // already has the function) and silently skip the extensions — clear
    // the active/default session so a genuinely new SparkSession is built
    // with the installer, then restore.
    def graftStrategies(all: Seq[org.apache.spark.sql.execution.SparkStrategy]) =
      all.filter(_.getClass.getName.startsWith("graft."))
    // the register() path's planner strategies, read from the shared test
    // session before the default session is cleared
    val registered = {
      val s = graft.SparkTestSession.spark
      GraftFunctions.register(s)
      graftStrategies(s.experimental.extraStrategies)
    }
    val prior = SparkSession.getDefaultSession
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    try {
      val r = spark.sql(
        "SELECT graft_cosine(array(3.0d, 0.0d), array(3.0d, 0.0d)) AS c")
        .collect()(0).getDouble(0)
      assert(math.abs(r - 1.0) < 1e-12)
      val desc = spark.sql("DESCRIBE FUNCTION graft_cosine").collect()
        .map(_.getString(0)).mkString("\n")
      assert(desc.contains("graft_cosine"))
      // the winnowing kernel rides the same deployment path
      val fps = spark.sql(
        "SELECT size(graft_winnow_fingerprints(array('a','b','c','d'), 2, 2)) AS n")
        .collect()(0).getInt(0)
      assert(fps >= 1 && fps <= 3)
      // PARITY PIN: every catalog function resolves in the
      // extensions-built session — the two deployment paths iterate the
      // same table, so a function added to register() can never be
      // missing from a config-deployed cluster again (the hand-kept list
      // this replaced had drifted 9 functions behind)
      val reg = spark.sessionState.functionRegistry
      GraftFunctions.catalog.foreach { case (name, _, _, _) =>
        assert(reg.functionExists(
            org.apache.spark.sql.catalyst.FunctionIdentifier(name)),
          s"$name missing from the extensions-deployed session")
      }
      // PARITY PIN: both paths install the same planner strategies (the
      // as-of join and the one-partition sort), and only those
      assert(registered === GraftFunctions.strategies)
      assert(graftStrategies(spark.sessionState.planner.strategies) ===
        GraftFunctions.strategies)
      // and a catalog member from the previously-drifted set WORKS
      val mh = spark.sql(
        "SELECT size(graft_minhash_bands_xx(array('a','b'), 64, 16)) AS n")
        .collect()(0).getInt(0)
      assert(mh === 16)
    } finally {
      // do not stop(): the underlying SparkContext is shared; restore the
      // suite-wide default session
      prior.foreach { p =>
        SparkSession.setDefaultSession(p)
        SparkSession.setActiveSession(p)
      }
    }
  }
}
