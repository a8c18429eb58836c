"""Text canonicalization kernel — the engine's "unparse to canonical form".

Reference precedent: the DFDL escape scheme canonicalizes CRLF -> LF on
round-trip (csv.dfdl.xsd:38 outputNewLine="%LF;", asserted in
TestDaffodilProcessor.java:150,220). The engine's frozen contract
(SURVEY.md §7 "hard part 3" — golden-pinned, do not drift):

    1. CRLF -> LF, then lone CR -> LF
    2. Unicode NFC normalization
    3. strip trailing whitespace (str.rstrip)
    4. None stays None

External variables (reference inventory #11): the reference binds user
dynamic properties as Daffodil external variables at compile time
(AbstractDaffodilProcessor.java:359-371,459-477) — empty-string values are
skipped, unknown/invalid names fail the record. The engine analog is the
canonicalization options below: `resolve_external_variables` turns the
EngineConfig.external_variables dict into a validated NormalizeOptions
(unknown name / bad value -> hard config error, empty value -> default), and
`make_normalize_udf(opts)` compiles the parameterized kernel. The defaults
reproduce the frozen contract above, and `output_newline` is the direct
analog of csv.dfdl.xsd:38's outputNewLine="%LF;".

Implemented twice on purpose:
  * `make_normalize_udf` / `normalize_text_udf` — Arrow-vectorized pandas
    UDF (the hot path; the north rule mandates vectorized pandas/Arrow,
    no per-row Python)
  * `normalize_text_py`  — pure-Python scalar, used by the independent
    pandas oracle in tests
"""

from __future__ import annotations

import unicodedata
from dataclasses import dataclass

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_NEWLINES = {"lf": "\n", "crlf": "\r\n"}
_UNICODE_FORMS = ("NFC", "NFKC")


@dataclass(frozen=True)
class NormalizeOptions:
    """Validated canonicalization options (the external-variable surface)."""

    output_newline: str = "lf"      # rendered newline: lf | crlf
    unicode_form: str = "NFC"       # NFC | NFKC
    strip_trailing: bool = True     # rstrip the canonical text


#: the engine's known external variables and their value validators —
#: the analog of the reference's variable namespace lookup
#: (AbstractDaffodilProcessor.java:459-477: unknown name -> failure).
_KNOWN_VARIABLES = {
    "output_newline": lambda v: v in _NEWLINES,
    "unicode_form": lambda v: v in _UNICODE_FORMS,
    "strip_trailing": lambda v: v in ("true", "false"),
}


class ExternalVariableError(ValueError):
    """Unknown or invalid external-variable binding (hard config error,
    mirroring the reference routing such records to failure —
    TestDaffodilProcessor.java:370-449)."""


def resolve_external_variables(variables: dict[str, str] | None) -> NormalizeOptions:
    """dict of raw string bindings -> validated NormalizeOptions.

    Empty-string values are skipped (the reference skips empty dynamic
    properties, TestDaffodilProcessor.java:402-414); unknown names and
    invalid values raise ExternalVariableError.
    """
    opts: dict[str, object] = {}
    for name, value in sorted((variables or {}).items()):
        if name not in _KNOWN_VARIABLES:
            raise ExternalVariableError(
                f"unknown external variable {name!r}; known: {sorted(_KNOWN_VARIABLES)}"
            )
        if value == "":
            continue  # empty binding = keep the default
        if not _KNOWN_VARIABLES[name](value):
            raise ExternalVariableError(
                f"invalid value {value!r} for external variable {name!r}"
            )
        opts[name] = value == "true" if name == "strip_trailing" else value
    return NormalizeOptions(**opts)


def normalize_text_py(s: str | None, opts: NormalizeOptions = NormalizeOptions()) -> str | None:
    if s is None:
        return None
    s = s.replace("\r\n", "\n").replace("\r", "\n")
    s = unicodedata.normalize(opts.unicode_form, s)
    if opts.strip_trailing:
        s = s.rstrip()
    nl = _NEWLINES[opts.output_newline]
    return s if nl == "\n" else s.replace("\n", nl)


def _normalize_series(s: pd.Series, opts: NormalizeOptions) -> pd.Series:
    # vectorized pandas string kernel; NaN/None pass through untouched
    out = s.str.replace("\r\n", "\n", regex=False).str.replace("\r", "\n", regex=False)
    out = out.str.normalize(opts.unicode_form)
    if opts.strip_trailing:
        out = out.str.rstrip()
    nl = _NEWLINES[opts.output_newline]
    if nl != "\n":
        out = out.str.replace("\n", nl, regex=False)
    return out


def make_normalize_udf(opts: NormalizeOptions = NormalizeOptions()):
    """Compile the canonicalization kernel for the given (already validated)
    options — the analog of the reference compiling a DataProcessor with its
    external variables bound."""

    @F.pandas_udf(T.StringType())
    def _udf(s: pd.Series) -> pd.Series:
        return _normalize_series(s, opts)

    return _udf


#: default-variable instance (the frozen golden contract)
normalize_text_udf = make_normalize_udf()
