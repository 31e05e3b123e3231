// Warm-import probe for OPTIMIZATION_r19.md: the 4-import sink dump sha256
// (sink_dump.txt) and the job timelines of warm imports at the etl_incremental
// setting (timeline_before.txt, timeline_after.txt).
// Usage, from a checkout whose benchmark is built (python3 perfbench/run.py
// writes .bench_build/classpath.txt):
//   PROBE_WORK=<work dir> PROBE_OUT=<result file> PROBE_SEED=301 PROBE_IMPORTS=10 \
//   spark-shell --master 'local[4]' --driver-class-path "$(cat .bench_build/classpath.txt)" \
//     --conf spark.sql.shuffle.partitions=4 --conf spark.ui.enabled=false \
//     --conf spark.sql.session.timeZone=UTC --conf spark.sql.codegen.cache.maxEntries=10000 \
//     --conf spark.locality.wait=0 --conf spark.sql.catalogImplementation=in-memory \
//     -i plans/r19/timeline_probe.scala
import java.nio.file._
import java.util.SplittableRandom
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import graft.etl.Pipeline
import perfbench.{Sink, XlsxCorpus}

val work = Paths.get(sys.env("PROBE_WORK"))
val seed = sys.env.getOrElse("PROBE_SEED", "301").toLong
val nTimed = sys.env.getOrElse("PROBE_IMPORTS", "10").toInt
val out = new java.io.PrintWriter(sys.env("PROBE_OUT"))
def say(s: String): Unit = { println(s); out.println(s); out.flush() }
Sink.deleteTree(work); Files.createDirectories(work)

// ---- (1) dump
def query[T](url: String, sql: String)(f: java.sql.ResultSet => T): Seq[T] = {
  val c = java.sql.DriverManager.getConnection(url)
  try { val rs = c.createStatement().executeQuery(sql); Iterator.continually(rs).takeWhile(_.next()).map(f).toList }
  finally c.close()
}
def dump(url: String): Seq[String] = Seq(
  "SELECT descricao, valor FROM tbl_planos",
  "SELECT cpf_cnpj, nome_razao_social, nome_fantasia, data_nascimento, data_cadastro FROM tbl_clientes",
  """SELECT c.cpf_cnpj, p.descricao, k.dia_vencimento, k.isento, k.endereco_logradouro, k.endereco_numero,
    |k.endereco_bairro, k.endereco_cidade, k.endereco_complemento, k.endereco_cep, k.endereco_uf, k.status_id
    |FROM tbl_cliente_contratos k LEFT JOIN tbl_clientes c ON k.cliente_id = c.id
    |LEFT JOIN tbl_planos p ON k.plano_id = p.id""".stripMargin,
  """SELECT c.cpf_cnpj, t.tipo_contato_id, t.contato FROM tbl_cliente_contatos t
    |LEFT JOIN tbl_clientes c ON t.cliente_id = c.id""".stripMargin
).flatMap(sql => query(url, sql)(rs => (1 to rs.getMetaData.getColumnCount).map(rs.getString).mkString("\t")).sorted :+ "--")

val dsink = new Sink(work.resolve("dump-sink")); dsink.provision()
var imported = 0L
(0 until 4).foreach { k =>
  val r = new SplittableRandom(91L * 7 + k)
  val ids: IndexedSeq[Long] = if (k == 0) (0L until 1198L).toIndexedSeq else {
    val ret = mutable.LinkedHashSet.empty[Long]
    while (ret.size < 120) ret += r.nextLong(imported)
    ret.toIndexedSeq ++ (0 until 1078).map(j => imported + j)
  }
  val rows = XlsxCorpus.fileRows(91L, k, ids, 1200)
  val p = work.resolve(s"dump-$k.xlsx"); XlsxCorpus.write(p, rows)
  val s = Pipeline.run(spark, p.toString, dsink.url)
  imported = ids.max + 1
  say(s"# dump import ${k + 1}: planos ${s.planos} clientes ${s.clientes} contratos ${s.contratos} " +
    s"contatos ${s.contatos} rejects ${s.contratosRejeitados}/${s.contatosRejeitados}")
  spark.catalog.clearCache()
}
val lines = dump(dsink.url)
val sha = java.security.MessageDigest.getInstance("SHA-256").digest(lines.mkString("\n").getBytes("UTF-8"))
  .map(b => f"${b & 0xff}%02x").mkString
say(s"# dump rows ${lines.count(_ != "--")} sha256 $sha")

// ---- (2) timelines
val sink = new Sink(work.resolve("sink")); sink.provision(); sink.preload(seed, 30000)
def file(k: Int): Path = {
  val r = new SplittableRandom(seed * 7 + k)
  val returning = mutable.LinkedHashSet.empty[Long]
  while (returning.size < 120) returning += r.nextLong(30000)
  val fresh = (0 until 1200 - 2 - 120).map(j => 30000 + k.toLong * 1200 + j)
  val ids = new scala.util.Random(seed * 13 + k).shuffle((returning.toSeq ++ fresh).toIndexedSeq)
  val p = work.resolve(f"import-$k%03d.xlsx"); XlsxCorpus.write(p, XlsxCorpus.fileRows(seed, k, ids, 1200)); p
}
case class J(id: Int, start: Long, var end: Long, stages: Int, tasks: Int, site: String, exec: String)
val jobs = new java.util.concurrent.ConcurrentHashMap[Int, J]()
val execSite = new java.util.concurrent.ConcurrentHashMap[Long, String]()
val sc = spark.sparkContext
sc.addSparkListener(new SparkListener {
  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val p = Option(e.properties)
    val last = e.stageInfos.maxBy(_.stageId)
    jobs.put(e.jobId, J(e.jobId, e.time, -1, e.stageInfos.size, last.numTasks,
      p.flatMap(x => Option(x.getProperty("callSite.short"))).getOrElse("?"),
      p.flatMap(x => Option(x.getProperty("spark.sql.execution.id"))).getOrElse("-")))
  }
  override def onJobEnd(e: SparkListenerJobEnd): Unit = Option(jobs.get(e.jobId)).foreach(_.end = e.time)
  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => execSite.put(s.executionId, s.description + " / root " + s.sparkPlanInfo.nodeName)
    case _ =>
  }
})
val drain = { val bus = sc.getClass.getMethod("listenerBus").invoke(sc); val w = bus.getClass.getMethod("waitUntilEmpty"); () => { w.invoke(bus); () } }
val walls = mutable.ArrayBuffer.empty[Long]; val counts = mutable.ArrayBuffer.empty[Int]
var lastJobs: Seq[J] = Nil; var lastT0 = 0L; var lastWall = 0L
(0 to 3 + nTimed).foreach { i =>
  val p = file(i)
  drain(); jobs.clear()
  val t0 = System.currentTimeMillis()
  val s = Pipeline.run(spark, p.toString, sink.url)
  val wall = System.currentTimeMillis() - t0
  drain()
  spark.catalog.clearCache()
  val js = jobs.values.asScala.toSeq.sortBy(_.id)
  if (i > 3) {
    walls += wall; counts += js.size
    val spans = js.map(j => j.end - j.start).sum
    say(s"# import ${i - 3}: wall $wall ms, ${js.size} jobs, sum of job spans $spans ms, contratos ${s.contratos}")
    lastJobs = js; lastT0 = t0; lastWall = wall
  }
}
lastJobs.foreach { j =>
  val ex = scala.util.Try(j.exec.toLong).toOption.flatMap(x => Option(execSite.get(x))).getOrElse("")
  say(f"JOB ${j.id}%4d  +${j.start - lastT0}%5d -> +${j.end - lastT0}%5d ms (${j.end - j.start}%4d ms)  stages=${j.stages} tasks=${j.tasks}  exec ${j.exec} [$ex]  ${j.site}")
}
val sorted = walls.sorted
say(s"# walls ms: ${walls.mkString(" ")}; median ${(sorted((sorted.size - 1) / 2) + sorted(sorted.size / 2)) / 2.0}; jobs: ${counts.mkString(" ")}")
out.close()
Sink.deleteTree(work)
System.exit(0)
