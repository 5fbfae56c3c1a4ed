"""Unit tests for tools/caller_scan.py over a small fixture tree.

Run: python3 -m unittest discover -s tools -p 'test_*.py'
"""
import pathlib
import tempfile
import textwrap
import unittest

import caller_scan


class CallerScanTest(unittest.TestCase):

    def setUp(self):
        self._tmp = tempfile.TemporaryDirectory()
        self.root = pathlib.Path(self._tmp.name)
        self.write("src/main/scala/demo/App.scala", """\
            package demo

            object App {
              def main(args: Array[String]): Unit =
                println(Ops.live(1))
            }
            """)

    def tearDown(self):
        self._tmp.cleanup()

    def write(self, rel, src):
        path = self.root / rel
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(textwrap.dedent(src))

    def listed(self):
        return {line.split()[1]: line for line in caller_scan.scan(self.root)}

    def test_member_reached_only_from_a_spec_only_member_is_listed(self):
        self.write("src/main/scala/demo/Ops.scala", """\
            package demo

            object Ops {
              def live(x: Int): Int = x + 1

              /** Nothing but a spec calls this. */
              def specOnly(x: Int): Int =
                helper(x) * 2

              private def helper(x: Int): Int = x - 1
            }
            """)
        self.write("src/test/scala/demo/OpsSpec.scala", """\
            package demo
            class OpsSpec { assert(Ops.specOnly(3) == 4) }
            """)
        got = self.listed()
        self.assertEqual(set(got), {"specOnly", "helper"})
        self.assertIn("src/main/scala/demo/Ops.scala:7 specOnly "
                      "(src/test references: 1)", got.values())
        self.assertIn("(src/test references: 0)", got["helper"])

    def test_same_named_word_in_a_tools_script_does_not_hide_a_member(self):
        self.write("src/main/scala/demo/Ops.scala", """\
            package demo

            object Ops {
              def live(x: Int): Int = x
              def compact(path: String): Unit = ()
            }

            object Tool {
              def run(): Unit = ()
            }
            """)
        self.write("tools/maint.py", """\
            # compact the shards, then launch the tool
            CMD = ["run_main.sh", "graft.demo.Tool", "compact"]
            """)
        got = self.listed()
        self.assertIn("compact", got)
        # the launched class counts; its uncalled member does not
        self.assertNotIn("Tool", got)
        self.assertIn("run", got)

    def test_val_that_nothing_reads_is_listed(self):
        self.write("src/main/scala/demo/Ops.scala", """\
            package demo

            object Ops {
              val ShardDigits = 1
              val NumShards: Int = 1 << (4 * ShardDigits)
              lazy val unused: Seq[Int] = Seq(ShardDigits)

              def live(x: Int): Int = x % (1 << (4 * ShardDigits))
            }
            """)
        self.assertEqual(set(self.listed()), {"NumShards", "unused"})

    def test_comment_names_no_caller_and_dead_container_listed_alone(self):
        self.write("src/main/scala/demo/Ops.scala", """\
            package demo

            object Ops {
              // Probe.sweep() used to call this
              def live(x: Int): Int = x
            }

            object Probe {
              def sweep(): Unit = println("s3a://bucket/x")
              override def toString: String = "probe"
            }
            """)
        self.assertEqual(set(self.listed()), {"Probe"})

    def test_roots_reach_through_containers_and_implicit_calls(self):
        self.write("src/main/scala/demo/SparkEntry.scala", """\
            package demo

            object SparkEntry {
              def queries: Map[String, Int] = Map("q1" -> Catalog.q1)
            }
            """)
        self.write("src/main/scala/demo/Ops.scala", """\
            package demo

            object Ops {
              def live(x: Int): Int = Cell(x).v
            }

            final case class Cell(v: Int) {
              override def toString: String = Fmt.show(v)
            }

            object Cell {
              def apply(v: Long): Cell = new Cell(v.toInt)
            }

            object Fmt {
              def show(v: Int): String =
                s"cell $v"
            }

            object Catalog {
              val q1: Int =
                Ops.live(1)
                  .abs
              val dropped: Int = 2
            }
            """)
        self.write("perfbench/scala/Driver.scala", """\
            object Driver { def main(a: Array[String]): Unit = Catalog.dropped }
            """)
        self.assertEqual(self.listed(), {})

    def test_conf_keys_listed_with_their_spec_setter_counts(self):
        self.write("src/main/scala/demo/Ops.scala", """\
            package demo

            object Ops {
              // "spark.graft.commented" is named by a comment only
              private[demo] val DirKey = "spark.graft.dir"
              def live(x: Int): Int =
                spark.conf.get("spark.graft.knob", "8").toInt +
                  spark.conf.get(DirKey).length + x
            }
            """)
        self.write("src/test/scala/demo/OpsSpec.scala", """\
            package demo
            class OpsSpec {
              spark.conf.set(Ops.DirKey, "/tmp/a")
              spark.conf.set("spark.graft.dir", "/tmp/b")
              spark.conf.unset(Ops.DirKey)
              SparkSession.builder().config("spark.graft.knob", "4")
            }
            """)
        self.assertEqual(caller_scan.conf_keys(self.root), [
            "conf src/main/scala/demo/Ops.scala:5 spark.graft.dir "
            "(src/test setters: 2)",
            "conf src/main/scala/demo/Ops.scala:7 spark.graft.knob "
            "(src/test setters: 1)"])
        # conf lines stay out of the member scan
        self.assertEqual(self.listed(), {})


if __name__ == "__main__":
    unittest.main()
