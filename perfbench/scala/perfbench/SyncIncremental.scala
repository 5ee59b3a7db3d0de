package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.analysis.{AddRelationship, AnalysisJob, AnalysisRunner, SetProperty}
import graft.drift.Drift
import graft.graph.{Graph, GraphStore}
import graft.intel.{ComputeInstances, StorageBuckets, SyncAssembly, SyncStage}
import graft.ontology.Materialize
import graft.permissions.Permissions
import graft.permissions.Permissions.PolicyStatement
import graft.rules.{CoreFrameworks, RulesRunner}
import graft.sink.GraphSink

/** The reference's own traffic: a scheduled incremental sync, one epoch
  * per round. Each epoch runs intel sync → permissions → analysis →
  * ontology → rules → drift, serially, and materializes every table a
  * stage changed inside the stage's own span before the next stage
  * starts; a bulk export follows the last epoch. */
object SyncIncremental {
  private val Statements = Seq(
    PolicyStatement("s1", "Allow", "role/acct-0*/svc-0*", "arn:storage:::bucket-*"),
    PolicyStatement("s2", "Allow", "role/acct-1*/svc-1*", "arn:compute:acct-1*"),
    PolicyStatement("s3", "Deny", "role/*/svc-13", "arn:storage:::bucket-00*"),
    PolicyStatement("s4", "Allow", "role/acct-05/*", "arn:compute:acct-0*",
      condition = Some("""[{"StringEquals": {"aws:SourceVpc": "vpc-1"}}]""")),
    PolicyStatement("s5", "Allow", "role/*/svc-0?", "arn:storage:::bucket-*11"),
    PolicyStatement("s6", "Deny", "role/acct-19/*", "*"))

  def run(ctx: Ctx): Unit = {
    val spark = ctx.spark
    val rec = ctx.rec
    val in = s"${ctx.args.data}/sync"
    val epochs = Files.list(Paths.get(in)).iterator().asScala.map(_.toString)
      .filter(_.matches(".*/epoch_\\d+")).toSeq.sorted
    var g = Graph()
    var prevState: Option[DataFrame] = None
    rec.setupDone()
    val start = System.nanoTime()
    val deadline = ctx.deadlineNs(start)
    var e = 0
    while (e < epochs.length && ctx.another(e, deadline)) {
      if (e == 1) ctx.startWarm()
      rec.roundStart()
      val dir = epochs(e)
      val expected = org.json4s.jackson.JsonMethods.parse(
        Files.readString(Paths.get(s"$dir/expected.json"))).values.asInstanceOf[Map[String, Any]]
      def long(k: String): Long = expected(k).asInstanceOf[BigInt].toLong
      val tag = long("tag")
      var epochS = 0.0
      def stage[A](name: String, layer: String)(body: => A): A = {
        rec.attempted += 1
        val t0 = System.nanoTime()
        val r = ctx.ledger.span(layer)(body)
        val dt = (System.nanoTime() - t0) / 1e9
        epochS += dt
        rec.op(s"r$e.$name", dt)
        r
      }
      def commit(next: Graph, prev: Graph): Graph = Commit(next, prev)

      try {
        // each module commits its own tables before the next one runs
        val committed = registry(dir).map(st =>
          st.copy(run = (gr: Graph, s: SparkSession, t: Long) => commit(st.run(gr, s, t), gr)))
        val g1 = stage("intel", "intel") {
          SyncAssembly.buildSync(Seq("accounts", "compute-instances", "storage-buckets",
            "identities"), committed).run(g, spark, tag)
        }
        val g2 = stage("permissions", "permissions") { commit(permissions(g1, tag), g1) }
        val g3 = stage("analysis", "analysis") { commit(analysis(g2, tag), g2) }
        val g4 = stage("ontology", "ontology") { commit(ontology(g3, tag), g3) }
        val findings = stage("rules", "rules") {
          RulesRunner.registerGraphViews(g4)
          RulesRunner.summary(spark, CoreFrameworks.coreSecurity(tag)).collect()
        }
        val state = g4.nodeTable("Instance")
          .select(col(GraphStore.ID), col("state"), col("instance_type"))
        val older = prevState.getOrElse(spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], state.schema))
        val drift = stage("drift", "drift") {
          Drift.diff(older, state).groupBy("direction").count().collect()
            .map(r => r.getString(0) -> r.getLong(1)).toMap
        }
        rec.round(s"epoch${e + 1}", epochS)

        // Output checks, outside the timed region.
        val live = expected("live").asInstanceOf[Map[String, Any]]
        live.foreach { case (label, ids) =>
          val want = ids.asInstanceOf[List[Any]].map(_.toString).toSet
          val got = g4.nodeTable(label).select(col(GraphStore.ID).cast("string"))
            .collect().map(_.getString(0)).toSet
          rec.check(s"epoch ${e + 1} live $label", got == want,
            s"${(got -- want).size} unexpected, ${(want -- got).size} missing")
        }
        val (wa, wr) = (long("drift_added"), long("drift_removed"))
        val (ga, gr) = (drift.getOrElse("added", 0L), drift.getOrElse("removed", 0L))
        rec.check(s"epoch ${e + 1} drift", ga == wa && gr == wr,
          s"added $ga/$wa removed $gr/$wr")
        rec.check(s"epoch ${e + 1} rules summary", findings.length == factCount(tag),
          s"${findings.length} summary rows")
        prevState = Some(state)
        g = g4
      } catch { case scala.util.control.NonFatal(ex) =>
        rec.fail(s"epoch ${e + 1}: ${ex.getClass.getSimpleName}: ${ex.getMessage}")
        e = epochs.length
      }
      // The graph's tables live in the checkpointed blocks, so
      // DriverHygiene.releasePersisted would drop the state the next epoch
      // merges into; a GC lets the ContextCleaner free the blocks of
      // tables no longer referenced, outside the timed region.
      System.gc()
      e += 1
    }
    rec.check("epochs available for the whole run", e < epochs.length || System.nanoTime() >= deadline,
      s"ran out of generated epochs after $e")
    // The bulk export runs once, after the last epoch, as a scheduled
    // export would: a stage in every epoch does not fit the run's time
    // budget. It is timed in its own span, outside the rounds, and only in
    // traced runs: no end-to-end metric includes it.
    if (ctx.ledger.traced && rec.failures.isEmpty) {
      val sinkDir = s"${ctx.args.work}/sink"
      val t0 = System.nanoTime()
      ctx.ledger.span("sink") { GraphSink.bulkImportCsv(g, sinkDir) }
      rec.op("export.sink", (System.nanoTime() - t0) / 1e9)
      val (bytes, lines) = csvStats(Paths.get(sinkDir))
      rec.sample("sink.bytes_written_per_record", bytes.toDouble / math.max(1L, lines))
      Main.deleteTree(Paths.get(sinkDir))
    }
  }

  /** Bytes and rows (lines) of the CSV data files the export wrote. */
  private def csvStats(root: java.nio.file.Path): (Long, Long) = {
    val files = Files.walk(root)
    try files.iterator().asScala.filter(p => p.getFileName.toString.startsWith("part-"))
      .foldLeft((0L, 0L)) { case ((b, n), p) =>
        val data = Files.readAllBytes(p)
        (b + data.length, n + data.count(_ == '\n'))
      }
    finally files.close()
  }

  private def factCount(tag: Long): Int =
    CoreFrameworks.coreSecurity(tag).rules.map(_.facts.size).sum

  /** The sync plan's module registry: the standard intel modules over the
    * epoch's fixtures plus the account and identity loads they expect. */
  def registry(dir: String): Seq[SyncStage] = {
    def upsert(g: Graph, label: String, batch: DataFrame, t: Long, clean: Boolean): Graph = {
      val existing = g.nodes.getOrElse(label, GraphStore.emptyLike(batch))
      val merged = GraphStore.upsertNodes(existing, batch, t)
      g.withNodes(label, if (clean) GraphStore.cleanup(merged, t) else merged)
    }
    Seq(
      SyncStage("accounts", (g, s, t) =>
        upsert(g, "Account", s.read.schema("id STRING").json(s"$dir/accounts.json"), t, false)),
      SyncAssembly.stageFor(ComputeInstances, s"$dir/compute.json", wants = Seq("accounts")),
      SyncAssembly.stageFor(StorageBuckets, s"$dir/buckets.json", wants = Seq("accounts")),
      SyncStage("identities", (g, s, t) => {
        val p = s.read.schema("id STRING, name STRING, tenant STRING").json(s"$dir/principals.json")
        val u = s.read.schema("id STRING, name STRING, mfa_enabled BOOLEAN").json(s"$dir/users.json")
        val k = s.read.schema("id STRING, owner STRING, created_epoch LONG").json(s"$dir/keys.json")
        upsert(upsert(upsert(g, "Principal", p, t, true), "User", u, t, false), "AccessKey", k, t, false)
      }))
  }

  /** Principal → resource access edges for every compute and storage
    * asset: `Permissions.evaluate`, then upsert + stale cleanup. */
  def permissions(g: Graph, tag: Long): Graph = {
    val inst = g.nodeTable("Instance")
    val tenantOf = g.edgeTable("Account", "RESOURCE", "Instance")
      .select(col(GraphStore.DST).as("_iid"), col(GraphStore.SRC).as("tenant"))
    val computeRes = inst.join(tenantOf, inst(GraphStore.ID) === tenantOf("_iid"))
      .select(col("arn").as(GraphStore.ID), col("arn"), col("tenant"))
    val bucket = g.nodeTable("Bucket")
    val bTenant = g.edgeTable("Account", "RESOURCE", "Bucket")
      .select(col(GraphStore.DST).as("_bid"), col(GraphStore.SRC).as("tenant"))
    val storageRes = bucket.join(bTenant, bucket(GraphStore.ID) === bTenant("_bid"))
      .select(col("arn").as(GraphStore.ID), col("arn"), col("tenant"))
    val resources = computeRes.unionByName(storageRes)
    val existingRes = g.nodes.getOrElse("Resource", GraphStore.emptyLike(resources))
    val res = GraphStore.cleanup(GraphStore.upsertNodes(existingRes, resources, tag), tag)
    val allowed = Permissions.evaluate(
      g.nodeTable("Principal").select(col(GraphStore.ID), col("name")),
      resources.select(col(GraphStore.ID), col("arn")), Statements)
      .select(col("principal_id").as(GraphStore.SRC), col("resource_id").as(GraphStore.DST),
        col("has_condition"))
    val key = ("Principal", "CAN_ACCESS", "Resource")
    val existing = g.edges.getOrElse(key,
      GraphStore.emptyLike(allowed, Seq(GraphStore.SRC, GraphStore.DST)))
    g.withNodes("Resource", res)
      .withEdges(key, GraphStore.cleanup(GraphStore.upsertEdges(existing, allowed, tag), tag))
  }

  val Jobs: Seq[AnalysisJob] = Seq(
    AnalysisJob("instance-exposure",
      g => g.nodeTable("Instance").select(col(GraphStore.ID),
        (col("allows_imdsv1") && col("state") === "running").as("exposed")),
      Seq(SetProperty("Instance", "exposed", "exposed"))),
    AnalysisJob("bucket-public",
      g => g.nodeTable("Bucket").select(col(GraphStore.ID), col("anonymous_access").as("public")),
      Seq(SetProperty("Bucket", "public", "public"))),
    AnalysisJob("public-bucket-owner",
      g => g.edgeTable("Account", "RESOURCE", "Bucket")
        .join(g.nodeTable("Bucket").filter(col("anonymous_access"))
          .select(col(GraphStore.ID).as(GraphStore.DST)), Seq(GraphStore.DST))
        .select(col(GraphStore.SRC).as("acct"), col(GraphStore.DST).as("bkt")),
      Seq(AddRelationship("Account", "OWNS_PUBLIC", "Bucket", "acct", "bkt"))))

  def analysis(g: Graph, tag: Long): Graph =
    Jobs.foldLeft(g)((acc, job) =>
      AnalysisRunner.cleanupDerived(AnalysisRunner.run(acc, job, tag), job, tag))

  def ontology(g: Graph, tag: Long): Graph =
    Materialize.materialize(g, "Asset", Seq(
      Materialize.ProviderMapping("Instance", priority = 1, df => df.select(
        col("arn").as(GraphStore.ID), col(GraphStore.ID).as("_src_id"),
        col("instance_type").as("kind"))),
      Materialize.ProviderMapping("Bucket", priority = 2, df => df.select(
        col("arn").as(GraphStore.ID), col(GraphStore.ID).as("_src_id"),
        lit("bucket").as("kind")))), tag)
}

/** Eager handoff between stages, as graft.SyncSmoke does it: every table
  * a stage changed is materialized (an eager local checkpoint) inside the
  * stage's span, so the next stage reads committed rows and never replays
  * the previous stage's plan. */
object Commit {
  def apply(next: Graph, prev: Graph): Graph = Graph(
    next.nodes.map { case (k, df) =>
      k -> (if (prev.nodes.get(k).exists(_ eq df)) df else df.localCheckpoint(true)) },
    next.edges.map { case (k, df) =>
      k -> (if (prev.edges.get(k).exists(_ eq df)) df else df.localCheckpoint(true)) })
}
