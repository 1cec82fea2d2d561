"""The metrics the benchmark reports, read from BENCHMARK.json: the one list
of their names, units and better directions.  README.md says which
end-to-end metric each per-layer metric should move, and on which workload.
"""

from __future__ import annotations

import json
import os

_SPEC_PATH = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                          "BENCHMARK.json")

with open(_SPEC_PATH) as _f:
    SPEC = json.load(_f)

#: name -> unit, in BENCHMARK.json's order
END_TO_END = {m["name"]: m["unit"] for m in SPEC["end_to_end"]}
PER_LAYER = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
