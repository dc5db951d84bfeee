package graft.perfbench

import java.nio.file.Path
import org.apache.spark.sql.SparkSession

/** Checks of the benchmark's own machinery (`run.py --selftest`):
  *
  *  - the tasks of a known job land in the operation that ran them, read
  *    right after the operation returns (the listener bus is drained
  *    before counters are read);
  *  - self times add up to an op's wall time, whatever the listener times
  *    of its job spans;
  *  - a planted wrong expected value is caught and counted as a failure.
  *
  * Returns the process exit code: 0 when every check holds.
  */
object SelfTest {
  def run(spark: SparkSession, out: Path): Int = {
    val problems = Seq.newBuilder[String]
    def need(cond: Boolean, what: String): Unit =
      if (!cond) problems += what

    Trace.on = true
    spark.sparkContext.addSparkListener(new SparkProbe)
    val sc = spark.sparkContext
    val rec = new Recorder(sc)
    // two back-to-back jobs with known task counts: 7, then 3
    rec.op("seven")(sc.parallelize(1 to 1000, 7).map(_ * 2).count())(_ => ())
    val seven = rec.lastOp
    val sevenTasks = Trace.counter(seven, "spark.tasks")
    rec.op("three")(sc.parallelize(1 to 10, 3).count())(_ => ())
    val three = rec.lastOp
    need(sevenTasks == 7, s"7-task job: ${sevenTasks} tasks in its op")
    need(Trace.counter(three, "spark.tasks") == 3,
      s"3-task job: ${Trace.counter(three, "spark.tasks")} tasks in its op")
    need(Trace.counter(seven, "spark.jobs") == 1 && Trace.counter(three, "spark.jobs") == 1,
      "each op should hold exactly its one job")
    import scala.jdk.CollectionConverters._
    val spans = Trace.spans.asScala.toSeq
    val root = spans.find(s => s.op == seven && s.parent == 0 && s.name == "seven")
    need(root.exists(r => spans.exists(s => s.name == "spark.job" && s.parent == r.id)),
      "the 7-task job's span should hang under its op's root span")

    // self times add up to the op's wall time even when job spans start
    // before their parent, overlap each other and end after their parent
    val made = Seq(Span(1, 0, 9, "op", 0, 100), Span(2, 1, 9, "table.plan", 10, 60),
      Span(3, 2, 9, "spark.job", 5, 40), Span(4, 2, 9, "spark.job", 30, 70),
      Span(5, 1, 9, "spark.job", 90, 120))
    val selfNs = Spans.selfTimes(made).map(x => (x._2, math.round(x._3 * 1e6)))
    need(selfNs.map(_._2).sum == 100 && selfNs.forall(_._2 >= 0),
      s"self times should add up to the op's 100 ns: $selfNs")

    // a planted wrong expectation must fail the op that checks it
    Trace.on = false
    val wl = new IngestMutate(spark, 1L)
    try {
      wl.setup(out.resolve("setup"))
      val before = rec.failures.size
      need(wl.checkedScan(rec), "full scan against the true model should pass")
      wl.plantWrongExpectation()
      need(!wl.checkedScan(rec), "full scan against a planted wrong value should fail")
      need(rec.failures.size == before + 1 &&
        rec.failures.last.contains("WrongAnswer"),
        s"the wrong answer should be recorded: ${rec.failures.drop(before)}")
    } finally wl.close()

    val found = problems.result()
    found.foreach(p => System.err.println(s"selftest FAILED: $p"))
    if (found.isEmpty) { println("selftest ok"); 0 } else 1
  }
}
