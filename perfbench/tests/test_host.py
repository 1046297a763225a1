import subprocess
import sys

from perfbench import host


def test_tree_cpu_counts_a_child_process():
    before = host.tree_cpu_s()
    subprocess.run([sys.executable, "-c",
                    "import time\n"
                    "t = time.process_time()\n"
                    "while time.process_time() - t < 0.3: pass"],
                   check=True)
    assert host.tree_cpu_s() - before >= 0.25
