package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.generator.{Injector, InjectorConfig}

class InjectorSpec extends AnyFunSuite {
  lazy val spark = TestSpark.spark
  import spark.implicits._

  test("same seed → identical output (documented divergence from unseeded reference)") {
    val cfg = InjectorConfig(seed = 99)
    assert(Injector.generate(cfg, 200) == Injector.generate(cfg, 200))
    assert(Injector.generate(cfg.copy(seed = 100), 200) != Injector.generate(cfg, 200))
  }

  test("value model: team cardinality, member range, score range, second-floored times") {
    val cfg = InjectorConfig()
    val teams = Injector.teams(cfg)
    assert(teams.size == 15)
    assert(teams.forall(t => t.members.size >= 5 && t.members.size <= 19))
    val gen = Injector.generate(cfg, 2000)
    val events = gen.flatMap(_.event)
    assert(events.forall(e => e.score >= 0 && e.score < 20))
    assert(events.forall(e => e.timestamp % 1000 == 0))
    assert(events.map(_.team).distinct.size <= 15)
  }

  test("late events are delayed 5-10 minutes at the configured rate") {
    val cfg = InjectorConfig(lateRate = 100, corruptRate = 0)
    val gen = Injector.generate(cfg, 1000)
    val late = gen.filter(_.late)
    assert(late.size == 10)
    // a late event's timestamp is >= 5 min behind its neighbors'
    val lateIdx = gen.indexWhere(_.late)
    val lateTs = gen(lateIdx).event.get.timestamp
    val prevTs = gen(lateIdx - 1).event.get.timestamp
    assert(prevTs - lateTs >= 5 * 60 * 1000 - 1000)
  }

  test("robot users absorb extra traffic on robot teams") {
    val cfg = InjectorConfig(corruptRate = 0, lateRate = 0)
    val gen = Injector.generate(cfg, 20000).flatMap(_.event)
    val robotEvents = gen.filter(_.user.startsWith("Robot-"))
    assert(robotEvents.nonEmpty)
  }

  test("writeLines produces a parseable file") {
    val path = java.nio.file.Files.createTempFile("inj", ".csv").toString
    Injector.writeLines(InjectorConfig(), 100, path)
    val lines = scala.io.Source.fromFile(path).getLines().toSeq
    assert(lines.size == 100)
    assert(lines.forall(_.split(",").length >= 2))
  }

  test("lineAt: the lines are the same whatever the order and the partitioning") {
    val cfg = InjectorConfig(seed = 11)
    val teams = Injector.teams(cfg)
    val expected = Injector.generate(cfg, 3000).map(_.line)
    assert((0L until 3000L).reverse.map(i => Injector.lineAt(cfg, teams, i).line).reverse == expected)
    for (parts <- Seq(1, 3, 6)) {
      val got = spark.range(0L, 3000L, 1L, parts).as[Long]
        .map(i => Injector.lineAt(cfg, teams, i).line)
      assert(got.rdd.getNumPartitions == parts)
      assert(got.collect().sorted.toSeq == expected.sorted, s"$parts partitions")
    }
  }

  test("maxScore bounds the scores") {
    val events = Injector.generate(InjectorConfig(maxScore = 3, corruptRate = 0), 3000).flatMap(_.event)
    assert(events.map(_.score).toSet == Set(0, 1, 2))
  }

  test("late delay lies in [lateBaseDelayMillis, lateBaseDelayMillis + lateFuzzyDelayMillis]") {
    // whole-second arrivals and bounds: flooring to seconds keeps the delay inside them
    val cfg = InjectorConfig(
      meanGapMillis = 1000L, lateRate = 5, lateBaseDelayMillis = 60000L,
      lateFuzzyDelayMillis = 7000L, corruptRate = 0)
    val gen = Injector.generate(cfg, 2000)
    val delays = gen.zipWithIndex.collect { case (l, i) if l.late =>
      cfg.startMillis + i * cfg.meanGapMillis - l.event.get.timestamp
    }
    assert(delays.size == 400)
    assert(delays.forall(d => d >= 60000L && d <= 67000L))
    assert(delays.distinct.size > 1)
    val onTime = gen.zipWithIndex.filterNot(_._1.late)
    assert(onTime.forall { case (l, i) => l.event.get.timestamp == cfg.startMillis + i * cfg.meanGapMillis })
  }

  test("member count lies in [baseMembersPerTeam, baseMembersPerTeam + membersPerTeamRange)") {
    val teams = Injector.teams(InjectorConfig(numTeams = 200, baseMembersPerTeam = 30, membersPerTeamRange = 4))
    assert(teams.size == 200)
    assert(teams.map(_.members.size).toSet == Set(30, 31, 32, 33))
  }

  test("robotProbability = 1 gives every team a robot") {
    val cfg = InjectorConfig(robotProbability = 1, corruptRate = 0)
    assert(Injector.teams(cfg).forall(_.robot.isDefined))
    val robotTeams = Injector.generate(cfg, 20000).flatMap(_.event)
      .filter(_.user.startsWith("Robot-")).map(_.team).toSet
    assert(robotTeams.size == cfg.numTeams)
  }

  test("every InjectorConfig field changes the generated lines") {
    val base = InjectorConfig()
    val changed = Map[String, InjectorConfig](
      "seed" -> base.copy(seed = 43L),
      "numTeams" -> base.copy(numTeams = 3),
      "baseMembersPerTeam" -> base.copy(baseMembersPerTeam = 9),
      "membersPerTeamRange" -> base.copy(membersPerTeamRange = 2),
      "maxScore" -> base.copy(maxScore = 5),
      "robotProbability" -> base.copy(robotProbability = 1),
      "startMillis" -> base.copy(startMillis = base.startMillis + 3600000L),
      "meanGapMillis" -> base.copy(meanGapMillis = 7L),
      "lateRate" -> base.copy(lateRate = 3),
      "lateBaseDelayMillis" -> base.copy(lateBaseDelayMillis = 60000L),
      "lateFuzzyDelayMillis" -> base.copy(lateFuzzyDelayMillis = 0L),
      "corruptRate" -> base.copy(corruptRate = 2)
    )
    assert(changed.keySet == base.productElementNames.toSet)
    val lines = Injector.generate(base, 1000).map(_.line)
    changed.foreach { case (field, cfg) =>
      assert(Injector.generate(cfg, 1000).map(_.line) != lines, field)
    }
  }
}
