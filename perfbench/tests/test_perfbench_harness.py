"""The harness's CPU accounting counts the whole process tree."""

import subprocess
import sys
import time

from harness import tree_cpu_s

SPIN = "import time\nt = time.process_time()\nwhile time.process_time() - t < 0.5:\n    pass\n"


def test_tree_cpu_counts_a_live_child():
    before = tree_cpu_s()
    child = subprocess.Popen([sys.executable, "-c", SPIN + "import time; time.sleep(30)"])
    try:
        for _ in range(100):
            if tree_cpu_s() - before >= 0.45:
                break
            time.sleep(0.1)
        assert tree_cpu_s() - before >= 0.45
    finally:
        child.kill()
        child.wait()


def test_tree_cpu_keeps_an_exited_child():
    before = tree_cpu_s()
    subprocess.run([sys.executable, "-c", SPIN], check=True)
    assert tree_cpu_s() - before >= 0.45
