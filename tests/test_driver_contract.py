"""Freeze test for the driver contract: the registered query names and the
sha256 of every `__spark_entry__.oracle_sql()` text must match
`tests/driver_contract.json`. A refactor of a `*_sql` builder that changes
one byte of a generated oracle text fails here, before any query runs.

Regenerate the manifest only when a change to the contract is intended:

    python -c "import json, hashlib, __spark_entry__ as em; o = em.oracle_sql(); \\
        json.dump({'queries': sorted(em.queries()), 'oracle_sql_sha256': \\
        {k: hashlib.sha256(v.encode()).hexdigest() for k, v in sorted(o.items())}}, \\
        open('tests/driver_contract.json', 'w'), indent=1, sort_keys=True)"
"""

from __future__ import annotations

import hashlib
import json
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parent.parent
MANIFEST = json.loads((REPO / "tests" / "driver_contract.json").read_text())


def _entry():
    sys.path.insert(0, str(REPO))
    import __spark_entry__

    return __spark_entry__


def test_query_names_frozen():
    assert sorted(_entry().queries()) == MANIFEST["queries"]


def test_oracle_sql_texts_frozen():
    got = {
        k: hashlib.sha256(v.encode()).hexdigest() for k, v in _entry().oracle_sql().items()
    }
    want = MANIFEST["oracle_sql_sha256"]
    changed = sorted(k for k in set(got) | set(want) if got.get(k) != want.get(k))
    assert not changed, "oracle_sql() texts changed: " + ", ".join(changed)
