"""Error taxonomy for the PDF kernels.

Mirrors the observable failure classes of the reference implementation
(/root/reference/src/content/error.rs:6-12 and winnow parse failures):
every kernel raises ``ParseError`` (or a subclass) with a short machine-
readable ``code`` so the Spark layer can surface it in the ``error``
column without ever failing a task.
"""

from __future__ import annotations


class ParseError(Exception):
    """A PDF byte-stream failed to parse.

    ``code`` is a stable short identifier, ``pos`` the byte offset where
    the failure was detected (when known).
    """

    def __init__(self, code: str, pos: int | None = None, detail: str = ""):
        self.code = code
        self.pos = pos
        self.detail = detail
        msg = code if pos is None else f"{code}@{pos}"
        if detail:
            msg = f"{msg}: {detail}"
        super().__init__(msg)


class CutError(ParseError):
    """Non-backtrackable failure (winnow ``ErrMode::Cut``).

    Alternation helpers (``parse_maybe_array``, ``parse_option``, ...)
    re-raise it instead of trying the next branch, mirroring the
    reference's cut on e.g. unsupported filters (filtering.rs:50-53).
    """
