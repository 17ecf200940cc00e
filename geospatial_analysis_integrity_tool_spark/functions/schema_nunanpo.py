"""Per-attribute NUNANPO enum domains (the WIDER alternate domain).

Loader over ``schema_nunanpo.json`` — transcribed by
tools/transcribe_schema_tables.py from the reference's
``{model}_nunanpo_enum.c`` tables (e.g. nfdd_nunanpo_enum.c:20; 31,511
values over 1,095 NFDD attributes).  When a schema's nunanpo attribution
mode is selected, the reference swaps the ACTIVE enum tables to these
(interface3.c:4047-4059) so every domain validation runs against the wider
"No-Unknown / Null / Populated-Only" sentinel-bearing domain; check
instances may further allow all nunanpo values or all-less-'Unknown'
(allow_nunanpo, TT.c:23278-23281).
"""

from __future__ import annotations

import json
import pkgutil
from functools import lru_cache


@lru_cache(maxsize=1)
def all_nunanpo() -> dict[str, dict[str, list[str]]]:
    # pkgutil, not open(): the package may be imported from a --py-files zip
    return json.loads(pkgutil.get_data(__package__, "schema_nunanpo.json"))


def nunanpo_enums(model: str) -> dict[str, list[str]]:
    return all_nunanpo()[model]


def nunanpo_models() -> list[str]:
    return sorted(all_nunanpo().keys())
