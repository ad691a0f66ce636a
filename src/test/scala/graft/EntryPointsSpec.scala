package graft

import java.sql.Timestamp

import graft.analyze.EntryPoints
import graft.core.FileRecord

/** Fidelity of the entry-point detectors vs `analysis/entry_points.py`
  * (main blocks, CLI commands, routes, tests, exports, optional public),
  * plus the dead-code walk rooted at detected entry points.
  */
class EntryPointsSpec extends SparkSpec {
  import spark.implicits._

  private val appPy =
    """import click
      |
      |@click.command
      |def serve():
      |    start()
      |
      |@analyze_app.command()
      |def analyze():
      |    run_analysis()
      |
      |@app.get
      |def read_users():
      |    return []
      |
      |@router.post
      |def not_a_route():
      |    return []
      |
      |def helper(x):
      |    return x
      |
      |def _private(x):
      |    return x
      |
      |if __name__ == "__main__":
      |    serve()
      |    cli.main()
      |""".stripMargin

  private val testPy =
    """import pytest
      |
      |@pytest.fixture
      |def db():
      |    return object()
      |
      |def test_roundtrip(db):
      |    assert db is not None
      |""".stripMargin

  private val initPy =
    """__all__ = ["serve", "helper"]
      |""".stripMargin

  test("CLI decorators: exact set and <var>.command() pattern") {
    val eps = EntryPoints.detect("app.py", appPy)
    val cli = eps.filter(_.entry_type == "CLI").map(_.name)
    assert(cli.toSet == Set("serve", "analyze"))
  }

  test("routes: exact decorator-set membership only (router.post is not in the set)") {
    val eps = EntryPoints.detect("app.py", appPy)
    val routes = eps.filter(_.entry_type == "ROUTE").map(_.name)
    assert(routes == Seq("read_users"))
  }

  test("main block: calls inside the guarded body") {
    val eps = EntryPoints.detect("app.py", appPy)
    val mains = eps.filter(_.entry_type == "MAIN").map(_.name)
    assert(mains.toSet == Set("serve", "main"))
  }

  test("tests: test_ prefix and fixture decorator") {
    val eps = EntryPoints.detect("tests/test_x.py", testPy)
    val tests = eps.filter(_.entry_type == "TEST").map(_.name)
    assert(tests.toSet == Set("db", "test_roundtrip"))
  }

  test("exports: __all__ names only in __init__.py") {
    assert(EntryPoints.detect("pkg/__init__.py", initPy)
      .filter(_.entry_type == "EXPORT").map(_.name) == Seq("serve", "helper"))
    assert(EntryPoints.detect("pkg/other.py", initPy)
      .count(_.entry_type == "EXPORT") == 0)
  }

  test("public functions only when opted in, at lower confidence") {
    val off = EntryPoints.detect("app.py", appPy)
    assert(off.count(_.entry_type == "PUBLIC") == 0)
    val on = EntryPoints.detect("app.py", appPy, includePublic = true)
    val pub = on.filter(_.entry_type == "PUBLIC")
    assert(pub.map(_.name).contains("helper"))
    assert(!pub.map(_.name).contains("_private"))
    assert(pub.forall(_.confidence == 0.7))
  }

  test("dead-code walk rooted at detected entry points keeps CLI targets alive") {
    val code =
      """@click.command
        |def entry():
        |    used()
        |
        |def used():
        |    pass
        |
        |def orphan():
        |    pass
        |""".stripMargin
    val f = FileRecord("cli.py", "python", "h", new Timestamp(0L),
      code.length.toLong, code)
    val chunks = Seq(f).toDS().flatMap(graft.chunk.Chunker.chunkFile _).toDF()
    val kg = graft.graph.Kg.fromChunks(chunks)
    val eps = EntryPoints.fromFiles(spark, Seq(f).toDS()).toDF()
    val dead = graft.analyze.Analytics.deadCode(kg, Some(eps))
      .select("name").as[String].collect().toSet
    assert(dead.contains("orphan"))
    assert(!dead.contains("entry"))
    assert(!dead.contains("used"))
  }
}
