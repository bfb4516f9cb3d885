"""Independent row-wise oracle for the final table state.

One Python pass over the generated events in (commit, event_seq) order:
the validation rules the default specs enforce (required/strip/length
on repo and path, the language choice set, required content), Unicode
normalization of content (drop non-printable non-space code points, NFC,
LF line endings) and last-writer-wins with deletes. The result is the
``(repo, path) -> sha256(content)`` map the engine's table must hold.
No filters_spark code runs here; only the language list is shared, as
input data.
"""

from __future__ import annotations

import hashlib
import json
import unicodedata

import pandas as pd
import regex

_NON_PRINTABLE = regex.compile(r"[^\P{C}\s]+")


def normalize(content: str) -> str:
    s = _NON_PRINTABLE.sub("", content)
    return unicodedata.normalize("NFC", s).replace("\r\n", "\n").replace("\r", "\n")


def _valid_text(v, max_len: int) -> bool:
    return v is not None and 0 < len(v.strip()) <= max_len


def replay(events, langs: list[str], state: dict | None = None) -> dict:
    """Fold ``events`` (a pandas frame of engine-shaped change events)
    into ``state``; returns ``{(repo, path): content_sha}``."""
    state = {} if state is None else state
    choices = set(langs)
    for r in events.sort_values(["commit", "event_seq"]).itertuples(index=False):
        if not (_valid_text(r.repo, 256) and _valid_text(r.path, 512)):
            continue
        if r.lang is not None and r.lang.strip().lower() not in choices:
            continue
        if r.content is None or len(r.content) == 0:
            continue
        key = (r.repo.strip(), r.path.strip())
        if r.op == "D":
            state.pop(key, None)
        else:
            state[key] = hashlib.sha256(normalize(r.content).encode("utf-8")).hexdigest()
    return state


_OPS = {"c": "I", "r": "I", "u": "U", "d": "D"}


def from_debezium(values) -> dict[str, pd.DataFrame]:
    """Decode Debezium JSON envelopes into engine-shaped events per
    ``source.table``: the row image is ``after`` (``before`` for
    deletes), the commit is the decimal suffix of ``source.file`` and
    the in-commit sequence is ``source.pos``."""
    rows: dict[str, list] = {}
    for v in values:
        env = json.loads(v)
        op = _OPS[env["op"]]
        img = env.get("before" if op == "D" else "after") or {}
        src = env["source"]
        commit = int(src["file"].rsplit(".", 1)[1])
        rows.setdefault(src["table"], []).append((
            f"{commit:012x}", int(src["pos"]), op,
            img.get("repo"), img.get("path"), img.get("lang"), img.get("content"),
        ))
    cols = ["commit", "event_seq", "op", "repo", "path", "lang", "content"]
    return {t: pd.DataFrame(r, columns=cols) for t, r in rows.items()}


def table_state(table) -> dict:
    df = table.read()
    if df is None:
        return {}
    return {(r.repo, r.path): r.content_sha
            for r in df.select("repo", "path", "content_sha").collect()}
