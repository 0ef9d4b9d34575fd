"""stop_session: stopping a job's session does not idle on pyspark's
accumulator-server poll.

Runs in a subprocess: it stops and restarts the SparkContext, which
the suite's shared session must not see."""

import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

SCRIPT = textwrap.dedent("""
    import threading
    import time

    from social_media_pii_scrubber_spark.session import get_spark, stop_session

    def run_and_stop():
        spark = get_spark(app_name="stop-session", master="local[1]")
        acc = spark.sparkContext.accumulator(0)
        spark.sparkContext.parallelize(range(4), 1).foreach(lambda x: acc.add(x))
        assert acc.value == 6, acc.value
        # the task's update has just reached the accumulator server: a
        # plain spark.stop() now waits out a whole 1 s poll
        t0 = time.perf_counter()
        stop_session(spark)
        return time.perf_counter() - t0

    first = run_and_stop()
    second = run_and_stop()  # a new session after it still gets its updates
    # the accumulator servers' threads and the one that shut them down
    left = [t.name for t in threading.enumerate()
            if t.name.endswith(("(serve_forever)", "(shutdown)"))]
    print("RESULT", first, second, left)
""")


def test_stop_session_is_prompt_and_leaves_no_thread():
    env = dict(os.environ, SPARK_DRIVER_MEMORY="512m",
               PYTHONPATH=os.pathsep.join(filter(None, [REPO, os.environ.get("PYTHONPATH")])))
    proc = subprocess.run([sys.executable, "-c", SCRIPT], capture_output=True,
                          text=True, timeout=300, env=env, cwd=REPO)
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = next(l for l in proc.stdout.splitlines() if l.startswith("RESULT"))
    _, first, second, left = line.split(" ", 3)
    assert float(first) < 0.5 and float(second) < 0.5, line
    assert left == "[]", line
