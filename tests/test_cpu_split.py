"""tools/cpu_split.py: a thread that exits mid-request must land in the
``exited`` residual, never as a negative delta of its class, and the
classes must add up to the JVM's process total."""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO not in sys.path:
    sys.path.insert(0, REPO)

from tools.cpu_split import CLK_TCK, split, thread_class  # noqa: E402


def _snap(threads: dict, jvm: int, py: float, tree: float) -> dict:
    return {"threads": threads, "jvm": jvm, "py": py, "tree": tree}


def test_exited_compiler_thread_is_a_residual_not_a_negative_class():
    c2, task, c2_new = ("11", "100"), ("12", "101"), ("13", "500")
    before = _snap({c2: ("jit_c2", 400), task: ("task", 100)}, jvm=600, py=1.0, tree=10.0)
    # c2 burned 50 more ticks and exited; a new C2 thread started and
    # burned 30; the task thread burned 200
    after = _snap({c2_new: ("jit_c2", 30), task: ("task", 300)}, jvm=880, py=1.5, tree=16.0)
    s = split(before, after)
    assert all(v >= 0 for v in s.values())
    assert s["jit_c2"] * CLK_TCK == 30
    assert s["task"] * CLK_TCK == 200
    assert s["exited"] * CLK_TCK == 50
    jvm_s = 280 / CLK_TCK
    assert abs(sum(s[k] for k in ("jit_c1", "jit_c2", "task", "gc", "other", "exited")) - jvm_s) < 1e-9
    assert s["python_driver"] == 0.5
    assert abs(s["python_workers"] - (6.0 - jvm_s - 0.5)) < 1e-9


def test_thread_names_map_to_classes():
    assert thread_class("C1 CompilerThre") == "jit_c1"
    assert thread_class("C2 CompilerThre") == "jit_c2"
    assert thread_class("Executor task l") == "task"
    assert thread_class("GC Thread#0") == "gc"
    assert thread_class("G1 Conc#0") == "gc"
    assert thread_class("dag-scheduler-e") == "other"
