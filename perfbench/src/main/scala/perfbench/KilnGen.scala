package perfbench

import java.io.{BufferedWriter, File}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.time.LocalDateTime
import java.time.format.DateTimeFormatter
import java.util.SplittableRandom

/** Seeded generator of the reference's five kiln tables plus its accretion
  * events, at the one-year row counts of the reference's dataset:
  * zone 35,041 wide rows (15-minute cadence, 11 zones), qrt 38,097
  * (2-hourly, 9 zones, no rows during maintenance), shell 8,030
  * (daily × 22 positions), air 3,285 (daily × 9 fans), mis 365 and
  * 4 events. The same seed writes byte-identical files. */
object KilnGen {
  val start: LocalDateTime = LocalDateTime.of(2024, 6, 1, 0, 0)
  val days = 365
  val zoneRows: Int = days * 96 + 1
  val qrtTicks: Int = days * 12 + 1
  val maintenanceWindows = 4
  /** 2-hour ticks per maintenance window: 4 × 37 dropped ticks × 9 zones
    * takes qrt from 39,429 to the reference's 38,097 rows. */
  val maintenanceTicks = 37
  val positions: Seq[String] =
    "O/L CONE" +: (2 to 21).map(i => s"POS $i") :+ "1st no."
  val fans: Seq[String] = (2 to 9).map(i => f"SAF$i%02d") :+ "CB"
  val reasons: Seq[String] = Seq("Normal operation", "Material bridging",
    "Feeder malfunction", "Raw material shortage", "Power interruption")
  val files: Seq[String] = Seq("zone_temperature.csv", "qrt_temperature.csv",
    "shell_temperature.csv", "air_calibration.csv", "mis_report.csv",
    "accretion_events.csv")

  private val tsFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss")
  private val dFmt = DateTimeFormatter.ofPattern("yyyy-MM-dd")

  /** One accretion event: the zone cools from `startH` to `criticalH`
    * (hours from the start of the year), by up to 200 °C at the critical
    * point, and recovers over the following three days. */
  private final case class Event(id: Int, zone: Int, startH: Int, criticalH: Int)

  private final case class Plan(maintenance: Seq[Int], events: Seq[Event])

  /** The seed's maintenance windows (first 2-hour tick of each) and events. */
  private def plan(seed: Long): Plan = {
    val r = new SplittableRandom(seed)
    // one window per quarter of the year, never overlapping
    val quarter = qrtTicks / maintenanceWindows
    val maint = (0 until maintenanceWindows).map(q =>
      q * quarter + 12 + r.nextInt(quarter - maintenanceTicks - 24))
    val evs = (1 to 4).map { i =>
      val s = (i - 1) * 2000 + 200 + r.nextInt(1400)
      Event(i, r.nextInt(11), s, s + 24 * (5 + r.nextInt(6)))
    }
    Plan(maint, evs)
  }

  private def inMaintenance(p: Plan, hour: Double): Boolean =
    p.maintenance.exists(t => hour >= t * 2.0 && hour < (t + maintenanceTicks) * 2.0)

  private def accretionDrop(p: Plan, zone: Int, hour: Double): Double =
    p.events.filter(_.zone == zone).map { e =>
      if (hour < e.startH || hour > e.criticalH + 72) 0.0
      else if (hour <= e.criticalH) 200.0 * (hour - e.startH) / (e.criticalH - e.startH)
      else 200.0 * (1.0 - (hour - e.criticalH) / 72.0)
    }.sum

  private def f2(x: Double): String = java.lang.String.format(java.util.Locale.ROOT, "%.2f", x)

  private def write(dir: File, name: String)(body: BufferedWriter => Unit): Unit = {
    val w = Files.newBufferedWriter(new File(dir, name).toPath, StandardCharsets.UTF_8)
    try body(w) finally w.close()
  }

  /** Writes the six CSV files into `dir`. */
  def writeAll(dir: File, seed: Long): Unit = {
    dir.mkdirs()
    val p = plan(seed)
    val r = new SplittableRandom(seed ^ 0x5DEECE66DL)
    write(dir, "zone_temperature.csv") { w =>
      w.write("DATETIME," + (0 to 10).map(z => s"ZONE_$z").mkString(","))
      w.newLine()
      for (i <- 0 until zoneRows) {
        val hour = i / 4.0
        val sb = new StringBuilder(start.plusMinutes(15L * i).format(tsFmt))
        for (z <- 0 to 10) {
          val t =
            if (inMaintenance(p, hour)) 100.0 + 100.0 * r.nextDouble()
            else 750.0 + 16.0 * z +
              15.0 * math.sin(2 * math.Pi * (hour % 24) / 24 + z) +
              5.0 * r.nextGaussian() - accretionDrop(p, z, hour)
          sb.append(',').append(f2(t))
        }
        w.write(sb.toString); w.newLine()
      }
    }
    write(dir, "qrt_temperature.csv") { w =>
      w.write("DATETIME,ZONE,TEMPERATURE"); w.newLine()
      for (t <- 0 until qrtTicks if !inMaintenance(p, t * 2.0); z <- 2 to 10) {
        val ts = start.plusHours(2L * t).format(tsFmt)
        w.write(s"$ts,$z,${f2(650.0 + 55.0 * (z - 2) + 20.0 * r.nextGaussian())}")
        w.newLine()
      }
    }
    write(dir, "shell_temperature.csv") { w =>
      w.write("DATE,POSITION,SHELL_TEMP_0,SHELL_TEMP_90,SHELL_TEMP_180,SHELL_TEMP_270,SHELL_TEMP_AVG")
      w.newLine()
      for (d <- 0 until days; (pos, k) <- positions.zipWithIndex) {
        val down = inMaintenance(p, d * 24.0 + 12)
        val q = Seq.fill(4)(if (down) 50.0 else 200.0 + 8.0 * k + 25.0 * r.nextGaussian())
        w.write((start.plusDays(d).format(dFmt) +: s"\"$pos\"" +:
          (q :+ q.sum / 4).map(f2)).mkString(","))
        w.newLine()
      }
    }
    write(dir, "air_calibration.csv") { w =>
      w.write("DATE,FAN,DAMPER,VELOCITY,AIR_FLOW"); w.newLine()
      for (d <- 0 until days; fan <- fans) {
        val down = inMaintenance(p, d * 24.0 + 12)
        val flow = if (down) 0.0 else 50000.0 + 10000.0 * r.nextDouble()
        w.write(Seq(start.plusDays(d).format(dFmt), fan, f2(90.0 * r.nextDouble()),
          f2(25.0 * r.nextDouble()), f2(flow)).mkString(","))
        w.newLine()
      }
    }
    write(dir, "mis_report.csv") { w =>
      w.write("DATE,CAMP_DAY,PRODUCTION ACTUAL,PRODUCTION PLAN,IRON ORE CONSUMPTION," +
        "GROSS COAL CONSUMPTION,COAL_PER_TDRI,POWER,KILN_AVAILABILITY,FEED_LOSS_REASON")
      w.newLine()
      for (d <- 0 until days) {
        val down = inMaintenance(p, d * 24.0 + 12)
        val plan = 500.0
        val actual = if (down) 50.0 * r.nextDouble() else 380.0 + 120.0 * r.nextDouble()
        val reason = if (down) reasons(1 + r.nextInt(reasons.size - 1)) else reasons.head
        w.write(Seq(start.plusDays(d).format(dFmt), (d + 1).toString, f2(actual), f2(plan),
          f2(actual * 1.55), f2(actual * 0.66), f2(0.6 + 0.1 * r.nextDouble()),
          f2(100.0 + 40.0 * r.nextDouble()), f2(if (down) 0.0 else 90.0 + 10.0 * r.nextDouble()),
          reason).mkString(","))
        w.newLine()
      }
    }
    write(dir, "accretion_events.csv") { w =>
      w.write("event_id,zone,start_date,critical_date"); w.newLine()
      p.events.foreach { e =>
        w.write(s"${e.id},${e.zone},${start.plusHours(e.startH).format(tsFmt)}," +
          start.plusHours(e.criticalH).format(tsFmt))
        w.newLine()
      }
    }
  }
}
