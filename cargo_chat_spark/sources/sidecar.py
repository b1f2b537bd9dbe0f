"""Shared JSON-sidecar reader implementing the unreadable-state
discipline (ADVICE r10, generalized in round 11) in ONE place.

Every persisted fence/state sidecar distinguishes three cases:

- MISSING file → the caller's documented empty default (fresh store);
- EXISTS but unreadable (EACCES/EIO/EISDIR, corrupt JSON, or a missing
  required field) → raise — defaulting would silently reset a fence or
  refold non-recomputable state;
- readable → the parsed payload (or one required field of it).

Callers that deliberately DEFAULT on unreadable state (ivm_stream —
its state is a pure cache of a recomputable rollup) document that
divergence at their site instead of using this helper.
"""

from __future__ import annotations

import json


def read_json_sidecar(
    path: str,
    *,
    default,
    what: str,
    field: str | None = None,
    hint: str = "repair or remove it explicitly",
):
    """Parsed sidecar JSON (or its ``field``), ``default`` when the file
    does not exist, RuntimeError when it exists but cannot be used."""
    try:
        with open(path) as fh:
            raw = json.load(fh)
        return raw if field is None else raw[field]
    except FileNotFoundError:
        return default
    except (OSError, ValueError, KeyError) as exc:
        raise RuntimeError(
            f"{what} {path} exists but is unreadable ({exc!r}) — {hint}"
        )
