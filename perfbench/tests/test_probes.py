import subprocess
import sys

import pytest

from perfbench import probes


def test_stat_fields_of_a_process_that_is_gone_is_none():
    p = subprocess.Popen([sys.executable, "-c", "pass"])
    p.wait()
    assert probes._stat_fields(p.pid) is None


def test_stat_fields_of_a_live_process():
    fields = probes._stat_fields("self")
    assert fields[0] in "RSD"  # state
    assert int(fields[1]) > 0  # ppid


def _child(*argv):
    return subprocess.Popen(list(argv), stdin=subprocess.PIPE,
                            stdout=subprocess.PIPE)


def test_rss_sampler_counts_the_jvm_and_python_children_only():
    python = _child(sys.executable, "-c",
                    "import sys; print(flush=True); sys.stdin.read()")
    python.stdout.readline()  # started: its peak no longer grows
    jvm = _child("cat")  # stands in for the JVM
    other = _child("cat")
    try:
        with probes.RssSampler(jvm.pid) as sampler:
            pass
        want = (probes.peak_rss_bytes(python.pid)
                + probes.peak_rss_bytes(jvm.pid))
        assert sampler.peak_bytes == want
    finally:
        for p in (python, jvm, other):
            p.stdin.close()
            p.wait()


def test_rss_sampler_with_no_process_to_measure_raises():
    with pytest.raises(RuntimeError):
        with probes.RssSampler(jvm_pid=-1):
            pass
