"""A run leaves no process behind: orphaned grandchildren are re-parented
to the run and stopped before it exits."""

import os
import subprocess
import sys
import textwrap

BENCH = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_stop_descendants_ends_orphaned_grandchildren():
    # The parent shell exits at once, leaving two sleeps orphaned; one of
    # them ignores SIGTERM and needs the SIGKILL fallback.
    script = textwrap.dedent("""
        import os, subprocess, time
        import run
        run.become_subreaper()
        subprocess.run(["sh", "-c", "sleep 60 & (trap '' TERM; sleep 60) & exit 0"])
        time.sleep(0.3)
        left = run.descendants()
        assert len(left) >= 2, left
        run.stop_descendants(grace_s=0.5)
        assert run.descendants() == []
        assert not any(os.path.exists(f"/proc/{pid}") for pid in left), left
        print("ok")
    """)
    out = subprocess.run(
        [sys.executable, "-c", script], cwd=BENCH, capture_output=True,
        text=True, timeout=60,
        env=dict(os.environ, PYTHONPATH=BENCH),
    )
    assert out.returncode == 0, out.stderr
    assert out.stdout.strip() == "ok"
