package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

class RangeJoinRewriteSpec extends AnyFunSuite {

  /** Runs `f` on the shared session, whose GraftExtensions install the
    * rule, with the rule's bucket width unset before and after: each case
    * sets its own width, and another suite may have left one set.
    */
  private def withWidthUnset(f: SparkSession => Unit): Unit = {
    val spark = TestSpark.spark
    spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
    try f(spark)
    finally spark.conf.unset("spark.graft.rangeJoin.bucketWidth")
  }

  test("pure range join rewrites to an equi join on buckets — no nested loop") {
    withWidthUnset { spark =>
      import spark.implicits._
      val rnd = new scala.util.Random(31)
      val points = Seq.tabulate(300)(i => (i, rnd.nextInt(1000).toLong)).toDF("pid", "t")
      val intervals = Seq.tabulate(40) { i =>
        val s = rnd.nextInt(950).toLong
        (1000 + i, s, s + 1 + rnd.nextInt(80))
      }.toDF("iid", "s", "e")
      // add one inverted interval — must be dropped, not exploded
      val withBad = intervals.union(Seq((9999, 900L, 5L)).toDF("iid", "s", "e"))

      val naive = points
        .join(withBad, $"t" >= $"s" && $"t" < $"e")
        .select($"pid", $"iid")
        .as[(Int, Int)]
        .collect()
        .toSet

      spark.conf.set("spark.graft.rangeJoin.bucketWidth", "64")
      val rewritten = points.join(withBad, $"t" >= $"s" && $"t" < $"e")
      val plan = rewritten.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"rewrite did not fire:\n$plan")
      assert(!plan.contains("CartesianProduct"))
      val got = rewritten.select($"pid", $"iid").as[(Int, Int)].collect()
      assert(got.length == got.toSet.size, "rewrite introduced duplicate pairs")
      assert(got.toSet == naive)
    }
  }

  test("reversed operand order and swapped sides still match") {
    withWidthUnset { spark =>
      import spark.implicits._
      spark.conf.set("spark.graft.rangeJoin.bucketWidth", "16")
      val points = Seq((1, 10L), (2, 35L), (3, 99L)).toDF("pid", "t")
      val intervals = Seq((100, 0L, 20L), (200, 30L, 40L)).toDF("iid", "s", "e")
      // s <= t && e > t, intervals on the LEFT
      val df = intervals.join(points, $"s" <= $"t" && $"e" > $"t")
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"rewrite did not fire:\n$plan")
      val got = df.select($"pid", $"iid").as[(Int, Int)].collect().toSet
      assert(got == Set((1, 100), (2, 200)))
    }
  }

  test("joins with an equi conjunct are left alone") {
    withWidthUnset { spark =>
      import spark.implicits._
      spark.conf.set("spark.graft.rangeJoin.bucketWidth", "16")
      val points = Seq((1, "a", 10L), (2, "b", 35L)).toDF("pid", "k", "t")
      val intervals = Seq((100, "a", 0L, 20L), (200, "a", 30L, 40L)).toDF("iid", "k2", "s", "e")
      val df = points.join(intervals, $"k" === $"k2" && $"t" >= $"s" && $"t" < $"e")
      val plan = df.queryExecution.optimizedPlan.toString
      assert(!plan.contains("_graft_bucket"), "rule fired despite existing equi key")
      val got = df.select($"pid", $"iid").as[(Int, Int)].collect().toSet
      assert(got == Set((1, 100)))
    }
  }

  test("rule off (width unset) leaves the plan untouched") {
    withWidthUnset { spark =>
      import spark.implicits._
      val points = Seq((1, 10L)).toDF("pid", "t")
      val intervals = Seq((100, 0L, 20L)).toDF("iid", "s", "e")
      val df = points.join(intervals, $"t" >= $"s" && $"t" < $"e")
      assert(!df.queryExecution.optimizedPlan.toString.contains("_graft_bucket"))
      assert(df.count() == 1)
    }
  }
}
