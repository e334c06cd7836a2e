"""The benchmark's input-generator checks (perfbench/test_inputs.py), run
with the test suite: the same seed must give the same corpus, requests
and fingerprint, so two commits benchmarked with one seed serve the same
workload."""

import importlib.util
import os

_PATH = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
    "perfbench",
    "test_inputs.py",
)
_spec = importlib.util.spec_from_file_location("perfbench_test_inputs", _PATH)
_checks = importlib.util.module_from_spec(_spec)
_spec.loader.exec_module(_checks)

globals().update(
    {n: f for n, f in vars(_checks).items() if n.startswith("test_")}
)
