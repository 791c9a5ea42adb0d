"""The driver's canonical, order-insensitive result hash.

Re-exports ``frame_hash`` from ``tools/driver_sim.py`` so the benchmark
checks results with exactly the canonicalisation the external driver
uses. That module puts a fixed repository path at the front of
``sys.path`` when imported; the path is restored afterwards so the
engine keeps being imported from this checkout.
"""

from __future__ import annotations

import importlib.util
import os
import sys

_path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                     "tools", "driver_sim.py")
_saved = list(sys.path)
try:
    _spec = importlib.util.spec_from_file_location("_driver_sim", _path)
    _mod = importlib.util.module_from_spec(_spec)
    _spec.loader.exec_module(_mod)
finally:
    sys.path[:] = _saved

frame_hash = _mod.frame_hash
