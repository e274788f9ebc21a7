package perfbench

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.app.Cli

/** What one iteration of a workload measured: its wall time, named
  * series of timed phases and operations, the counts the output checks
  * compare, and the traced per-layer figures.
  */
final class Iteration {
  var wall = 0.0
  /** CPU seconds of the whole process, JIT and GC threads included,
    * from JVM start to the end of this iteration. */
  var cpu = 0.0
  var items = 0L
  var attempted = 0L
  var failed = 0L
  val series = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]
  val results = mutable.LinkedHashMap.empty[String, Long]
  val layers = mutable.LinkedHashMap.empty[String, Double]

  def add(name: String, seconds: Double): Unit =
    series.getOrElseUpdate(name, mutable.ArrayBuffer.empty[Double]) += seconds
  def addLayer(name: String, v: Double): Unit = layers(name) = layers.getOrElse(name, 0.0) + v

  /** Fold in a later part of the same iteration (another session). */
  def absorb(o: Iteration): Unit = {
    wall += o.wall
    attempted += o.attempted
    failed += o.failed
    o.series.foreach { case (k, v) => v.foreach(add(k, _)) }
    results ++= o.results
    o.layers.foreach { case (k, v) => addLayer(k, v) }
  }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def num(d: Double): String = if (d.isNaN || d.isInfinite) "null" else d.toString
  def arr(xs: Iterable[Double]): String = xs.map(num).mkString("[", ",", "]")
  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

/** One benchmark process: iterations of one workload, at least
  * `--min-iters` of them and more while another fits in `--seconds`.
  * Every part of an iteration runs in a fresh session from
  * `Cli.session`. The first iteration runs in a cold JVM, as a CLI
  * user's run does; its setup time counts from JVM start. With
  * `--trace 1` the first iteration is traced and later ones are not, so
  * a traced process can also compare its outputs with an untraced twin.
  * Writes every raw sample as one JSON object to `--out`.
  */
object Main {
  def main(args: Array[String]): Unit = {
    def arg(n: String): String = Cli.arg(args, n).getOrElse(sys.error(s"$n required"))
    val workload = arg("--workload")
    val seconds = arg("--seconds").toDouble
    val minIters = arg("--min-iters").toInt
    val trace = arg("--trace") == "1"
    val in = arg("--in")
    val work = arg("--work")
    val gates = Cli.arg(args, "--gates").map(s => GateSuite.select(s.split(",").toSeq))

    val started = System.nanoTime()
    val iters = mutable.ArrayBuffer.empty[(Boolean, Double, Iteration)]
    def elapsed = (System.nanoTime() - started) / 1e9
    // a further iteration starts only if it should end within --seconds
    def fits = iters.lastOption.forall { case (_, _, it) => elapsed + it.wall <= seconds }
    while (iters.size < minIters || (elapsed < seconds && fits)) {
      val i = iters.size
      val traced = trace && i == 0
      val dir = s"$work/iter$i"
      var setup = 0.0
      /** One part of the iteration in a fresh session. */
      def part(name: String)(body: (SparkSession, Trace) => Iteration): Iteration = {
        val t0 = System.nanoTime()
        val spark = Cli.session(s"perfbench-$workload-$name")
        val s = (System.nanoTime() - t0) / 1e9
        if (setup == 0.0) setup =
          if (i == 0) System.currentTimeMillis() / 1e3 -
            java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime / 1e3
          else s
        val tr = new Trace(spark, traced)
        val it = body(spark, tr)
        tr.close()
        if (traced) {
          it.addLayer("trace.overhead_s", tr.overheadSeconds)
          it.addLayer("trace.span_sum_s", tr.wall.values.sum)
          tr.wall.foreach { case (k, v) => it.addLayer(s"${k}_s", v) }
          tr.costsBySpan.foreach { case (k, (jobs, taskS, shuffleMb)) =>
            it.addLayer(s"$k.jobs", jobs.toDouble)
            it.addLayer(s"$k.task_s", taskS)
            it.addLayer(s"$k.shuffle_mb", shuffleMb)
          }
        }
        spark.stop()
        it
      }
      val it = workload match {
        case "fic_etl" => part("fic")((spark, tr) => FicEtl.run(spark, tr, s"$in/fic", dir, i))
        case "drop_gates" =>
          val drops = part("drops")((spark, tr) => DropEpochs.run(spark, tr, s"$in/drops", dir))
          // the traced process's untraced twin repeats the drops only
          if (!trace || traced)
            drops.absorb(part("gates")((spark, tr) =>
              GateSuite.run(spark, tr, s"$in/corpus", dir, gates.get)))
          drops
        case w => sys.error(s"unknown workload $w")
      }
      it.cpu = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime / 1e9
      iters += ((traced, setup, it))
    }

    val out = Json.obj(Seq(
      "workload" -> Json.str(workload),
      "iterations" -> iters.map { case (traced, setup, it) =>
        Json.obj(Seq(
          "traced" -> traced.toString,
          "setup_s" -> Json.num(setup),
          "wall_s" -> Json.num(it.wall),
          "cpu_s" -> Json.num(it.cpu),
          "items" -> it.items.toString,
          "attempted" -> it.attempted.toString,
          "failed" -> it.failed.toString,
          "series" -> Json.obj(it.series.map { case (k, v) => k -> Json.arr(v) }),
          "results" -> Json.obj(it.results.map { case (k, v) => k -> v.toString }),
          "layers" -> Json.obj(it.layers.map { case (k, v) => k -> Json.num(v) })))
      }.mkString("[", ",", "]")))
    java.nio.file.Files.writeString(java.nio.file.Paths.get(arg("--out")), out)
  }
}
