"""Unit tests for dev/unreachable_defs.py on a tiny fixture tree.

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


if __name__ == "__main__":
    unittest.main()
