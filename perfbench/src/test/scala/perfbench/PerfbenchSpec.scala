package perfbench

import java.io.File
import java.nio.file.Files
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

class PerfbenchSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = Session.start(2, Files.createTempDirectory("perfbench-spec").toString)
  override def afterAll(): Unit = Session.stop(spark)

  private def tmp(): File = Files.createTempDirectory("perfbench").toFile
  private def bytes(dir: File, f: String): Array[Byte] = Files.readAllBytes(new File(dir, f).toPath)

  test("the same seed writes byte-identical kiln CSVs and another seed differs") {
    val (a, b, c) = (tmp(), tmp(), tmp())
    KilnGen.writeAll(a, 7)
    KilnGen.writeAll(b, 7)
    KilnGen.writeAll(c, 8)
    KilnGen.files.foreach(f => assert(bytes(a, f).sameElements(bytes(b, f)), f))
    KilnGen.files.foreach(f => assert(!bytes(a, f).sameElements(bytes(c, f)), f))
  }

  test("kiln CSVs have the reference's one-year row counts") {
    val d = tmp()
    KilnGen.writeAll(d, 3)
    val rows = KilnGen.files.map(f => f -> (Files.readAllLines(new File(d, f).toPath).size - 1)).toMap
    assert(rows == Map("zone_temperature.csv" -> 35041, "qrt_temperature.csv" -> 38097,
      "shell_temperature.csv" -> 8030, "air_calibration.csv" -> 3285, "mis_report.csv" -> 365,
      "accretion_events.csv" -> 4))
  }

  test("interval union and self time") {
    assert(Intervals.unionLength(Seq((0.0, 10.0), (5.0, 15.0), (20.0, 25.0)), 0, 30) == 20.0)
    assert(Intervals.unionLength(Seq((0.0, 10.0), (5.0, 15.0)), 8, 12) == 4.0)
    assert(Intervals.unionLength(Nil, 0, 10) == 0.0)
    assert(Intervals.selfTime((0.0, 100.0), Seq((10.0, 20.0), (15.0, 30.0), (90.0, 120.0))) == 70.0)
  }

  test("self time per layer: each node minus what its children cover") {
    import Profile.Node
    val nodes = Seq(
      Node("q", "", "harness", 0, 1000),
      Node("c", "q", "queries", 0, 600),
      Node("j1", "c", "operators", 100, 300),
      Node("s1", "j1", "operators", 150, 250),
      Node("p", "q", "plans", 600, 700),
      Node("d", "q", "operators", 700, 1000),
      Node("j2", "d", "operators", 700, 950))
    val self = Profile.selfSeconds(nodes)
    assert(self("harness") == 0.0)
    assert(self("queries") == 0.4)
    assert(self("plans") == 0.1)
    // j1: 200 - 100, s1: 100, d: 300 - 250, j2: 250
    assert(math.abs(self("operators") - 0.5) < 1e-12)
  }

  test("the session settings equal graft.Bench's") {
    val src = new String(Files.readAllBytes(new File("../src/main/scala/graft/Bench.scala").toPath))
    val builder = src.substring(src.indexOf("SparkSession.builder()"), src.indexOf(".getOrCreate()"))
      .split("\n").map(_.replaceAll("//.*$", "")).mkString(" ")
    val cores = 3
    val conf = """\.config\(\s*"([^"]+)",\s*(sys\.env\.getOrElse\([^)]*\)|[^)]+)\)""".r
      .findAllMatchIn(builder).map { m =>
        val v = m.group(2).trim
        val default = """sys\.env\.getOrElse\("[^"]+",\s*"([^"]*)"\)""".r
        m.group(1) -> (v match {
          case default(d) => d
          case "cpus" => cores.toString
          case q if q.startsWith("\"") => q.stripPrefix("\"").stripSuffix("\"")
          case lit => lit
        })
      }.toMap
    assert(builder.contains("local[$cpus]"))
    assert(conf.nonEmpty && conf == Session.benchSettings(cores).toMap)
  }

  test("content hash ignores row order and last-ulp noise, not values") {
    import spark.implicits._
    val a = Seq((1, 0.1 + 0.2, "x"), (2, 1.5, null)).toDF("k", "v", "s")
    val shuffled = Seq((2, 1.5, null), (1, 0.3, "x")).toDF("k", "v", "s").repartition(2)
    val changed = Seq((1, 0.3001, "x"), (2, 1.5, null)).toDF("k", "v", "s")
    assert(ContentHash.drain(a) == ContentHash.drain(shuffled))
    assert(ContentHash.drain(a).hash != ContentHash.drain(changed).hash)
    assert(ContentHash.drain(a).rows == 2)
  }
}
