"""Mechanized doc counters (VERDICT r8 Next-round #6 / What's-wrong #4).

The registry-count claim in SCALE.md kept drifting behind the code (fixed by
hand in commits 5c59e67 and again in r8's verdict) — so derive it here: the
prose number must match the live ``registry.all_queries()`` or this test
goes red, which turns "stale doc" from a judge finding into a failing build.
"""

from __future__ import annotations

import os
import re

from advanced_logistics_data_engineering_arabic_nlp_pipeline_spark import registry

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _read(name: str) -> str:
    with open(os.path.join(ROOT, name)) as f:
        return f.read()


def test_scale_md_registry_count_current():
    m = re.search(r"every registry query — (\d+) as of round", _read("SCALE.md"))
    assert m, "SCALE.md lost its registry-count sentence; update the pattern"
    assert int(m.group(1)) == len(registry.all_queries()), (
        f"SCALE.md claims {m.group(1)} registry queries; live registry has "
        f"{len(registry.all_queries())} — update the prose"
    )
