package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path}

import scala.jdk.CollectionConverters._

import graft.SparkEntry
import graft.{queries => qs}
import org.apache.spark.sql.SparkSession

/** gate_batch: a fixed list of SparkEntry queries, each constructed and
  * then fully materialized, cache cleared between queries. The
  * materialization writes the result to parquet, the plan Verify writes
  * minus its final coalesce: every column of every row is computed, and
  * the files are what run.py checks against the DuckDB oracle, so no
  * second execution is needed for the check. Every timed pass reads the
  * tables through a fresh alias of the input directory: the session memos
  * (`Artifacts`, `DedupOps.pairArtifact`) are keyed on the input path, so
  * each pass derives everything again, as a first run would. */
object GateBatch {
  val Modules: Seq[(String, Seq[graft.Q])] = Seq(
    "Relational" -> qs.Relational.all, "TpchCanon" -> qs.TpchCanon.all,
    "TemporalOps" -> qs.TemporalOps.all, "Streamish" -> qs.Streamish.all,
    "TextOps" -> qs.TextOps.all, "CurationOps" -> qs.CurationOps.all,
    "UnigramOps" -> qs.UnigramOps.all, "DedupOps" -> qs.DedupOps.all,
    "PrivacyOps" -> qs.PrivacyOps.all, "RetrievalOps" -> qs.RetrievalOps.all,
    "VectorOps" -> qs.VectorOps.all, "MultimodalOps" -> qs.MultimodalOps.all,
    "CodecOps" -> qs.CodecOps.all, "WasmOps" -> qs.WasmOps.all)

  final case class Timing(name: String, pass: Int, constructS: Double, wallS: Double,
                          planS: Double, execS: Double, ok: Boolean)

  def run(spark: SparkSession, obs: Obs, a: Args, runDir: Path, r: Report): Long = {
    val seconds = a.int("seconds")
    val names = a("queries").split(",").toSeq
    val base = Path.of(a("data")).toAbsolutePath
    val sc = spark.sparkContext
    Phase("session")
    val moduleOf = Modules.flatMap { case (m, q) => q.map(_.name -> m) }.toMap
    val registry = SparkEntry.queries
    names.filterNot(registry.contains).foreach(n => r.fail(s"$n is not in the registry"))
    names.filterNot(SparkEntry.oracleSql.contains).foreach(n => r.fail(s"$n has no oracle"))
    val listed = names.filter(registry.contains)

    def alias(tag: String): String = {
      val p = runDir.resolve(s"data-$tag")
      Files.createSymbolicLink(p, base)
      p.toString
    }
    val artifacts = runDir.resolve("artifacts")
    def artifactDirs: Int =
      if (!Files.exists(artifacts)) 0 else { val l = Files.list(artifacts); try l.count().toInt finally l.close() }

    Phase("registry loaded")
    // warm-up on an alias of its own: loads SQL, codegen and registry classes
    val warm = alias("warm")
    a("warm-queries").split(",").foreach { n =>
      registry(n)(spark, warm).write.mode("overwrite").parquet(runDir.resolve(s"warm-$n").toString)
      spark.sharedState.cacheManager.clearCache()
    }
    obs.drain()
    obs.executions.clear()

    Phase("warm-up done")
    val out = runDir.resolve("out")
    val before = obs.counters()
    val start = Clock.nowUs
    val timings = Seq.newBuilder[Timing]
    var derives = 0
    var pass = 0
    while (pass == 0 || Clock.nowUs - start < seconds * 1000000L) {
      val d = alias(s"p$pass")
      val artBefore = artifactDirs
      listed.foreach { n =>
        val trace = s"q-$n-p$pass"
        val root = Trace.newId()
        val construct = Trace.newId()
        Trace.tagJobs(sc, trace, construct, phase = "construct")
        val t0 = Clock.nowUs
        var t1 = t0
        val ok =
          try {
            val df = registry(n)(spark, d)
            t1 = Clock.nowUs
            val mat = Trace.newId()
            Trace.tagJobs(sc, trace, mat, phase = "exec")
            df.write.mode("overwrite").parquet(out.resolve(n).toString)
            Trace.add(trace, "materialize", "spark", t1, Clock.nowUs, root, mat)
            true
          } catch { case e: Exception =>
            r.fail(s"$n threw: ${e.toString.take(300)}")
            false
          }
        val t2 = Clock.nowUs
        Trace.add(trace, "construct", "queries", t0, t1, root, construct)
        Trace.add(trace, "query", "queries", t0, t2, 0L, root)
        Trace.tagJobs(sc, null, 0L)
        spark.sharedState.cacheManager.clearCache()
        obs.drain()
        val execs = Iterator.continually(obs.executions.poll()).takeWhile(_ != null).toSeq
        execs.foreach(e => e.phases.foreach { case (ph, (s, en)) =>
          Trace.add(trace, s"plan.$ph", "spark", s * 1000L, en * 1000L, root)
        })
        Phase(f"$n%-26s ${(t2 - t0) / 1e6}%.2f")
        timings += Timing(n, pass, (t1 - t0) / 1e6, (t2 - t0) / 1e6,
          execs.map(_.planMs).sum / 1e3, execs.map(_.durationNs).sum / 1e9, ok)
      }
      derives += artifactDirs - artBefore
      pass += 1
    }
    Phase("passes done")
    val after = obs.counters()

    val ts = timings.result()
    val failed = listed.count(n => ts.exists(t => t.name == n && !t.ok)) + (names.size - listed.size)
    r.attempted = names.size
    r.failed = failed
    // per query: median over passes; the gate's wall: median pass sum
    val perQuery = ts.groupBy(_.name).map { case (n, g) => n -> Stats.median(g.map(_.wallS)) }
    val passWalls = ts.groupBy(_.pass).values.map(_.map(_.wallS).sum).toSeq
    val wall = Stats.median(passWalls)
    r.put("latency_p50_ms", Stats.median(perQuery.values.toSeq) * 1000, "ms")
    r.put("latency_tail_ms", perQuery.values.max * 1000, "ms")
    r.put("throughput_per_s", names.size / wall, "1/s")
    r.put("gate.wall_s", wall, "s")
    r.put("gate.failed", failed, "count")
    r.put("gate.passes", pass, "count")
    def passMedian(f: Timing => Double) =
      Stats.median(ts.groupBy(_.pass).values.map(_.map(f).sum).toSeq)
    r.put("queries.construct_s", passMedian(_.constructS), "s")
    r.put("queries.plan_s", passMedian(_.planS), "s")
    r.put("queries.exec_s", passMedian(_.execS), "s")
    r.put("queries.construct_jobs",
      (after.getOrElse("jobs.construct", 0.0) - before.getOrElse("jobs.construct", 0.0)) / pass, "count")
    r.put("queries.artifact_derives", derives.toDouble / pass, "count")
    Modules.map(_._1).foreach { m =>
      r.put(s"queries.$m.wall_s", listed.filter(moduleOf(_) == m).map(perQuery).sum, "s")
    }
    Obs.reportWindow(r, before, after)

    Phase("reported")
    Files.writeString(runDir.resolve("oracle_sql.json"), listed.map(n =>
      s"${Json.str(n)}:${Json.str(SparkEntry.oracleSql(n))}").mkString("{", ",", "}"), UTF_8)
    start
  }
}
