package graft

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.ingest.GitHooks
import graft.streaming.WatchStream

/** `core/git_hooks.py` semantics: install/uninstall of the three
  * reindex hooks, integrate-with-backup for pre-existing hooks,
  * idempotence, never-block (exit 0), and the Spark-side contract —
  * the spool the hooks write is directly ingestable as the
  * WatchStream event source.
  */
class GitHooksSpec extends SparkSpec {

  private def mkRepo(): File = {
    val dir = Files.createTempDirectory("ghooks").toFile
    new File(dir, ".git/hooks").mkdirs()
    dir
  }

  test("install writes the three executable sentinel-marked hooks") {
    val repo = mkRepo()
    assert(GitHooks.install(repo))
    GitHooks.DefaultHookTypes.foreach { ht =>
      val f = new File(repo, s".git/hooks/$ht")
      assert(f.isFile, s"$ht missing")
      assert(f.canExecute, s"$ht not executable")
      val c = Files.readString(f.toPath)
      assert(c.contains(GitHooks.Sentinel))
      assert(c.contains("exit 0"), "hook must never block git")
      assert(c.contains(GitHooks.SpoolDir))
    }
  }

  test("install on a non-repo returns false; double install idempotent") {
    val notRepo = Files.createTempDirectory("notrepo").toFile
    assert(!GitHooks.install(notRepo))
    val repo = mkRepo()
    assert(GitHooks.install(repo))
    val before = Files.readString(
      new File(repo, ".git/hooks/post-commit").toPath)
    assert(GitHooks.install(repo))
    val after = Files.readString(
      new File(repo, ".git/hooks/post-commit").toPath)
    assert(before == after, "second install must not duplicate the hook")
  }

  test("pre-existing hook is integrated with a backup and survives uninstall") {
    val repo = mkRepo()
    val hook = new File(repo, ".git/hooks/post-commit")
    val userScript = "#!/bin/sh\necho user-hook\n"
    Files.writeString(hook.toPath, userScript)
    assert(GitHooks.install(repo))
    val merged = Files.readString(hook.toPath)
    assert(merged.contains("echo user-hook"), "user hook preserved")
    assert(merged.contains(GitHooks.Sentinel), "our hook appended")
    assert(new File(repo, ".git/hooks/post-commit.backup").isFile,
      "original backed up")
    // uninstall strips only our section
    assert(GitHooks.uninstall(repo))
    val stripped = Files.readString(hook.toPath)
    assert(stripped.contains("echo user-hook"))
    assert(!stripped.contains(GitHooks.Sentinel))
  }

  test("uninstall removes our own hooks; foreign hooks left alone") {
    val repo = mkRepo()
    assert(GitHooks.install(repo))
    val foreign = new File(repo, ".git/hooks/pre-push")
    Files.writeString(foreign.toPath, "#!/bin/sh\nexit 1\n")
    assert(GitHooks.uninstall(repo))
    GitHooks.DefaultHookTypes.foreach { ht =>
      assert(!new File(repo, s".git/hooks/$ht").exists(), s"$ht not removed")
    }
    assert(foreign.isFile, "foreign hook must not be touched")
  }

  test("the spool the hook writes is a valid WatchStream event source") {
    val repo = mkRepo()
    val spool = new File(repo, GitHooks.SpoolDir)
    spool.mkdirs()
    // exactly the lines the generated script printf-formats
    Files.writeString(new File(spool, "abc123.jsonl").toPath,
      """{"file_path":"src/a.py","event_type":"modified","ts":"2026-08-14T10:00:00Z"}
        |{"file_path":"src/b.py","event_type":"deleted","ts":"2026-08-14T10:00:00Z"}
        |{"file_path":"src/old.py","event_type":"moved","dest_path":"src/new.py","ts":"2026-08-14T10:00:01Z"}
        |""".stripMargin)
    // batch read under the SAME schema the stream uses, debounced by
    // the stream's own ST2 operator
    val events = spark.read.schema(GitHooks.eventSchema)
      .json(spool.getAbsolutePath)
    val latest = WatchStream.latestEventPerFile(events)
      .map(e => (e.file_path, e.event_type, e.dest_path))
    assert(latest.toSeq == Seq(
      ("src/a.py", "modified", null),
      ("src/b.py", "deleted", null),
      ("src/old.py", "moved", "src/new.py")))
    // and the streaming flavor resolves against the same spool
    val stream = GitHooks.spoolStream(spark, repo)
    assert(stream.isStreaming)
    assert(stream.schema == GitHooks.eventSchema)
  }

  test("generated script emits one JSON line per changed path (bash run)") {
    // run the spool-writing core of the hook against a fake diff-tree
    // output — proves the printf formatting round-trips through the
    // JSON reader (quote-free repo paths, tab-separated R lines)
    val dir = Files.createTempDirectory("ghrun").toFile
    val script = new File(dir, "run.sh")
    Files.writeString(script.toPath,
      s"""#!/bin/bash
         |SPOOL="$${1:?}"
         |TS=2026-08-14T10:00:00Z
         |printf 'M\\tsrc/a.py\\nA\\tsrc/c.py\\nD\\tsrc/b.py\\nR100\\tsrc/old.py\\tsrc/new.py\\n' \\
         |  | while IFS=$$'\\t' read -r st path dest; do
         |  case "$$st" in
         |    D*) ev=deleted;;
         |    A*) ev=created;;
         |    R*) ev=moved;;
         |    *)  ev=modified;;
         |  esac
         |  if [ "$$ev" = moved ]; then
         |    printf '{"file_path":"%s","event_type":"moved","dest_path":"%s","ts":"%s"}\\n' "$$path" "$$dest" "$$TS"
         |  else
         |    printf '{"file_path":"%s","event_type":"%s","ts":"%s"}\\n' "$$path" "$$ev" "$$TS"
         |  fi
         |done >> "$$SPOOL/head.jsonl"
         |exit 0
         |""".stripMargin)
    script.setExecutable(true)
    val spool = new File(dir, "spool"); spool.mkdirs()
    val p = new ProcessBuilder("bash", script.getAbsolutePath,
      spool.getAbsolutePath).start()
    assert(p.waitFor() == 0)
    val rows = spark.read.schema(GitHooks.eventSchema)
      .json(spool.getAbsolutePath)
      .orderBy(col("file_path")).collect()
    assert(rows.length == 4)
    assert(rows.map(_.getString(1)).toSeq.sorted ==
      Seq("created", "deleted", "modified", "moved"))
    assert(rows.find(_.getString(1) == "moved")
      .exists(_.getString(2) == "src/new.py"))
  }
}
