#!/usr/bin/env python
"""Refresh contract_fingerprints.json — run ONLY right after a full
local verification (tools/check_contract.py ALL OK on every query):
the file records the oracle+source fingerprint each query was last
verified at. Any later edit makes the fingerprint mismatch and
contract.py::queries sorts the edited query to the front of the
driver's window, so no edit can hide behind an old green result."""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    import __spark_entry__ as entry
    from hope_graph_builder_spark import contract

    names = list(entry.queries())
    recorded = {n: contract._fingerprint(n) for n in names}
    path = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                        "contract_fingerprints.json")
    with open(path, "w") as f:
        json.dump(recorded, f, indent=1, sort_keys=True)
    print(f"recorded {len(names)} fingerprints -> {path}")


if __name__ == "__main__":
    main()
