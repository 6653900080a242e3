"""Name/text normalizers (SURVEY.md §2.6 T3-T5).

These operate on *metadata* (column names, filenames), so they are plain
Python functions with no executor involvement.
"""

from __future__ import annotations

import re


def norm_header(s: str | None) -> str:
    """Space-canonical normalizer (reference Upload.py:137-145 semantics).

    NBSP/CR/LF → space, strip, lowercase, collapse ``[\\s_]+`` runs to one
    space, drop everything outside ``[a-z0-9 ]``.

    >>> norm_header(' Total\\xa0Project_Cost ($M) ')
    'total project cost m'
    """
    if s is None:
        return ""
    s = s.replace("\xa0", " ").replace("\r", " ").replace("\n", " ")
    s = s.strip().lower()
    s = re.sub(r"[\s_]+", " ", s)
    s = re.sub(r"[^a-z0-9 ]+", "", s)
    return re.sub(r" +", " ", s).strip()


def normalize_colname(s: str | None) -> str:
    """Underscore-canonical normalizer (reference Compare.py:34-39 semantics).

    Collapse whitespace, strip, lowercase, runs of non-alphanumerics → ``_``,
    strip leading/trailing underscores. Deliberately distinct from
    :func:`norm_header` (space vs underscore canonical form) — the reference
    keeps both and so do we.

    >>> normalize_colname(' Total\\xa0Project_Cost ($M) ')
    'total_project_cost_m'
    """
    if s is None:
        return ""
    s = re.sub(r"\s+", " ", str(s)).strip().lower()
    s = re.sub(r"[^a-z0-9]+", "_", s)
    return s.strip("_")


def quote(name: str) -> str:
    """``name`` as one backtick-quoted SQL identifier, whatever its text:
    ``F.col(quote(name))`` resolves a header with dots, backticks or
    spaces as the one column it names."""
    return "`" + name.replace("`", "``") + "`"


def safe_fname_token(s: str) -> str:
    """Filename sanitizer: ``\\/:*?"<>|`` → ``_`` (reference Upload.py:105-107)."""
    return re.sub(r'[\\/:*?"<>|]', "_", s)
