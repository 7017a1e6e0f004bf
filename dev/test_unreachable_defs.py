"""Unit tests for dev/unreachable_defs.py (both passes) on tiny fixture trees.

Run: python3 -m unittest discover -s dev -p 'test_unreachable*'
"""
import os
import subprocess
import sys
import tempfile
import unittest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import unreachable_defs  # noqa: E402

SCRIPT = os.path.join(os.path.dirname(os.path.abspath(__file__)), "unreachable_defs.py")

BENCH = '''package fx

object Bench {
  def main(args: Array[String]): Unit = {
    val n = Lib.counted
    println(s"$interpolated and ${Lib.braced(n)} // not a comment")
    Lib.over(1)
  }
  /** Not [[Lib.linkedOnly]]: a link is not a caller. */
  private def interpolated: String = "x"
}
'''

LIB = '''package fx

object Lib {
  def counted: Int = 1
  def braced(n: Int): Int = n + 1
  // linkedOnly() is called nowhere: this comment is not a caller.
  def linkedOnly: Int = 2
  def deadHead: Int = deadTail + 1
  def deadTail: Int = 3
  def over(x: Int): Int = x
  def over(x: String): Int = x.length
  def unusedPair(x: Int): Int = x
  def unusedPair(x: String): Int = x.length
}

class Store(root: String) {
  def used: String = root
  def unused: String = "/* " + root
}

object Verify {
  def main(args: Array[String]): Unit = println(new Store("r").used)
}
'''

SEEDS = '''package fx

object Seeds {
  def seed: Int = 1
  def grow(n: Int): Int = n + 1
}

object Explain {
  def main(args: Array[String]): Unit = {
    val seed = args.length
    println(Seeds.grow(seed))
  }
}
'''


def write(root, rel, text):
    path = os.path.join(root, rel)
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w", encoding="utf-8") as fh:
        fh.write(text)


class UnreachableDefsTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name
        write(self.root, "src/main/scala/fx/Bench.scala", BENCH)
        write(self.root, "src/main/scala/fx/Lib.scala", LIB)
        write(self.root, "src/test/scala/fx/LibSpec.scala", "class LibSpec\n")

    def tearDown(self):
        self.tmp.cleanup()

    def dead(self):
        found = unreachable_defs.scan(self.root)
        return [(n.qualname, n.line) for n in found]

    def dead_names(self):
        return {name for name, _ in self.dead()}

    def test_interpolated_names_are_live(self):
        dead = self.dead_names()
        self.assertNotIn("Bench.interpolated", dead)
        self.assertNotIn("Lib.braced", dead)
        self.assertNotIn("Lib.counted", dead)

    def test_scaladoc_link_and_comment_are_not_callers(self):
        self.assertIn("Lib.linkedOnly", self.dead_names())

    def test_chain_from_a_dead_def_is_dead(self):
        dead = self.dead_names()
        self.assertIn("Lib.deadHead", dead)
        self.assertIn("Lib.deadTail", dead)

    def test_overloads(self):
        dead = self.dead()
        # One use keeps every overload of the name; an unused name
        # reports each overload at its own line.
        self.assertNotIn("Lib.over", {name for name, _ in dead})
        self.assertEqual([line for name, line in dead if name == "Lib.unusedPair"], [12, 13])

    def test_class_members_are_nodes(self):
        dead = self.dead_names()
        self.assertIn("Store.unused", dead)
        self.assertNotIn("Store.used", dead)

    def test_a_local_val_hides_a_member_of_its_name(self):
        write(self.root, "src/main/scala/fx/Seeds.scala", SEEDS)
        dead = self.dead_names()
        self.assertIn("Seeds.seed", dead)
        self.assertNotIn("Seeds.grow", dead)

    def test_exit_status_follows_the_allowlist(self):
        def run(allow):
            path = os.path.join(self.root, "allow.txt")
            write(self.root, "allow.txt", allow)
            return subprocess.run(
                [sys.executable, SCRIPT, "--repo", self.root, "--allowlist", path],
                capture_output=True, text=True).returncode
        every = ["Lib.linkedOnly", "Lib.deadHead", "Lib.deadTail",
                 "Lib.unusedPair", "Store.unused"]
        self.assertEqual(run(""), 1)
        self.assertEqual(run("".join(f"{n}  LibSpec: fixture\n" for n in every)), 0)
        # An entry that names no spec, or a reached def, fails the run.
        self.assertEqual(run("".join(f"{n}  fixture\n" for n in every)), 1)
        self.assertEqual(run("".join(f"{n}  LibSpec: fixture\n" for n in every)
                             + "Lib.counted  LibSpec: reached\n"), 1)


PARAM_MAIN = '''package fx

object Bench {
  def main(args: Array[String]): Unit = {
    Ops.scan(args(0))
    Ops.scan(args(0), 8)
    Ops.join(args(0), how = "left")
    Ops.join(args(0), "left")
    Ops.wrap(args(0))
    Ops.tuned(args(0), 5)
    Ops.tuned(args(0), k = 6)
    Ops.specOnly(args(0))
    Ops.local(args(0), args.length)
    val c = Conf("u")
    println(Ops.use(c.copy(size = 4)))
    Ops.retry() { args.length }
  }
}
'''

PARAM_OPS = '''package fx

object Ops {
  def scan(p: String, width: Int = 8): Int = width
  def join(p: String, how: String = "left"): String = how
  def wrap(p: String, depth: Int = 3): Int = deep(p, depth)
  def deep(p: String, level: Int = 1): Int = level
  def tuned(p: String, k: Int = 1): Int = k
  def specOnly(p: String, cap: Int = 10): Int = cap
  def local(p: String, n: Int = 0): Int = n
  def use(c: Conf): Int = c.size + c.pool
  def retry(times: Int = 3)(body: => Int = 0): Int = times * body
}

final case class Conf(url: String, size: Int = 2, pool: Int = 1)
'''

PARAM_SPEC = '''package fx

class OpsSpec {
  Ops.specOnly("x", 2)
  Ops.scan("x", width = 99)
}
'''


class ParamScanTest(unittest.TestCase):

    def setUp(self):
        self.tmp = tempfile.TemporaryDirectory()
        self.root = self.tmp.name
        write(self.root, "src/main/scala/fx/Bench.scala", PARAM_MAIN)
        write(self.root, "src/main/scala/fx/Ops.scala", PARAM_OPS)
        write(self.root, "src/test/scala/fx/OpsSpec.scala", PARAM_SPEC)

    def tearDown(self):
        self.tmp.cleanup()

    def single(self):
        _, single = unreachable_defs.param_scan(self.root)
        return {p.label: next(iter(p.values)) for p in single}

    def test_named_and_positional_arguments_are_one_value(self):
        single = self.single()
        self.assertEqual(single["Ops.scan(width)"], "8")
        self.assertEqual(single["Ops.join(how)"], '"left"')
        self.assertNotIn("Ops.tuned(k)", single)

    def test_forwarded_parameter_takes_the_callers_values(self):
        single = self.single()
        self.assertEqual(single["Ops.wrap(depth)"], "3")
        self.assertEqual(single["Ops.deep(level)"], "3")

    def test_a_value_passed_only_by_a_spec_does_not_count(self):
        single = self.single()
        self.assertEqual(single["Ops.specOnly(cap)"], "10")
        self.assertEqual(single["Ops.scan(width)"], "8")

    def test_a_local_is_a_value_of_its_own_call_site(self):
        self.assertNotIn("Ops.local(n)", self.single())

    def test_copy_sets_a_case_class_field(self):
        single = self.single()
        self.assertNotIn("Conf(size)", single)
        self.assertEqual(single["Conf(pool)"], "1")

    def test_a_by_name_body_is_not_a_knob(self):
        single = self.single()
        self.assertNotIn("Ops.retry(body)", single)
        self.assertEqual(single["Ops.retry(times)"], "3")

    def test_exit_status_follows_the_allowlist(self):
        def run(allow):
            write(self.root, "allow.txt", allow)
            return subprocess.run(
                [sys.executable, SCRIPT, "--params", "--repo", self.root,
                 "--allowlist", os.path.join(self.root, "allow.txt")],
                capture_output=True, text=True).returncode
        every = "".join(f"{name}  OpsSpec: fixture\n" for name in self.single())
        self.assertEqual(run(""), 1)
        self.assertEqual(run(every), 0)
        # A reason of another kind is fine; a missing kind, a spec that
        # does not exist or a multi-valued parameter fails the run.
        self.assertEqual(run(every.replace("OpsSpec:", "deployment:", 1)), 0)
        self.assertEqual(run(every.replace("OpsSpec: ", "", 1)), 1)
        self.assertEqual(run(every.replace("OpsSpec:", "NoSuchSpec:", 1)), 1)
        self.assertEqual(run(every + "Ops.tuned(k)  safety: multi-valued\n"), 1)
        self.assertEqual(run(every + "Ops.gone(x)  safety: gone\n"), 1)


if __name__ == "__main__":
    unittest.main()
