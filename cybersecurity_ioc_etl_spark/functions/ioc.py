"""IOC extraction kernel — the reference's core competency, as native
column expressions (SURVEY.md §2.8 T1-T12).

Every function here builds only JVM-side ``pyspark.sql.functions``
expressions — no Python UDFs — so the whole kernel stays inside
whole-stage codegen and scales linearly with executors.  All but
``explode_iocs`` (the batch/stream long-table projection) return a
Column.

Regex semantics are taken verbatim from the reference:
  - batch patterns:  /root/reference/h-isac.py:70-73
  - stream patterns: /root/reference/firehose.py:56-58
  - refang:          /root/reference/h-isac.py:46-49
  - reply-chain truncation ("clean_text"): /root/reference/h-isac.py:51-67
  - type classification ("sort_iocs"):     /root/reference/firehose.py:82-103

The patterns avoid constructs that differ between Python `re`, Java
`java.util.regex` and RE2 (DuckDB oracle): the reference's one lookahead
(`h[xX]{2}p(?=[s:])`) is rewritten as a capture-and-restore replacement so
the *same* pattern runs on all three engines.

Documented divergences from the reference (SURVEY.md §4.3 — deliberate
fixes, each unit-tested):
  - `sort_iocs` reclassifies scheme-less hosts via regex instead of the
    reference's ``urlparse().netloc`` + int-cast probe, which maps every
    scheme-less input to the empty string (firehose.py:88-93) and accepts
    out-of-range octets like 999.1.1.1.
  - the stream path gains refang + email extraction (reference drift,
    firehose.py:56-58 vs h-isac.py:70-73).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# --- extraction patterns (h-isac.py:70-73, verbatim) ---------------------
IP_PATTERN = r"((?:^|\b)(?:\d{1,3}\[?\.\]?){3}\d{1,3}(?:\b|$))"
HASH_PATTERN = r"((?:^|\b)[a-fA-F0-9]{32,64}(?:\b|$))"
URL_PATTERN = r"((?:^|\b)(?:h[xX]{2}ps?:|meows?:)?//(?:[A-Za-z0-9_\[\]#&,;=./-]+(?:\[?\.\]?)?)+(?:\b|$))"
EMAIL_PATTERN = r"((?:^|\b)(?:[^\s]+?\@(?:.+?)\[\.\][a-zA-Z]+)(?:$|\b))"

# stream-path IP pattern is defang-naive (firehose.py:56) — kept for
# parity tests; the unified pipeline uses the defang-tolerant batch form.
IP_PATTERN_STREAM = r"((?:^|\b)(?:\d{1,3}\.){3}\d{1,3}(?:\b|$))"

# strict forms used by property tests: a refanged IOC must re-match these
IP_PLAIN = r"^(?:\d{1,3}\.){3}\d{1,3}$"
HASH_PLAIN = r"^[a-fA-F0-9]{32,64}$"

# classification patterns (sort_iocs parity, firehose.py:82-103)
_CLASSIFY_IP = r"^(?:\d{1,3}\.){3}\d{1,3}$"
_CLASSIFY_HASH = r"^[a-zA-Z0-9]{32,64}$"  # note: non-hex admitted, as in firehose.py:97

IOC_TYPES = ("ip", "hash", "url", "email")  # extract_iocs keys, in order

REPLY_MARKER = "From: H-ISAC Amber"
# (?s) so .* spans lines; (^|\n) anchors the cut at the *start* of the first
# line containing the marker — exact parity with h-isac.py:62-66 which drops
# that line and everything after it.
_REPLY_CUT = r"(?s)(^|\n)[^\n]*From: H-ISAC Amber.*$"


def clean_text(body: Column) -> Column:
    """Reply-chain truncation (T7): drop everything from the first line
    containing ``From: H-ISAC Amber`` onward (h-isac.py:51-67)."""
    return F.regexp_replace(body, _REPLY_CUT, "")


def refang(ioc: Column) -> Column:
    """Defang reversal (T5, h-isac.py:46-49): hxxp→http, [.]→., [@]→@.

    The reference's lookahead ``h[xX]{2}p(?=[s:])`` is rewritten as a
    capture (``h[xX]{2}p([s:])`` → ``http$1``) so the identical pattern is
    valid RE2 for the DuckDB oracle.
    """
    out = F.regexp_replace(ioc, r"h[xX]{2}p([s:])", r"http$1")
    out = F.regexp_replace(out, r"\[([.@])\]", r"$1")
    return out


def strip_mailto(ioc: Column) -> Column:
    """mailto: prefix strip (T6, h-isac.py:84)."""
    return F.regexp_replace(ioc, r"^mailto:", "")


def normalize_ws(text: Column) -> Column:
    """Tweet-text whitespace normalization (T8, firehose.py:30-32):
    remove \\r, newline→space."""
    return F.translate(F.regexp_replace(text, r"\r", ""), "\n", " ")


def extract_all(text: Column, pattern: str) -> Column:
    """regexp_extract_all wrapper returning group 1 — same semantics as
    Python ``re.findall`` with a single capturing group."""
    return F.regexp_extract_all(text, F.lit(pattern), 1)


def extract_iocs(body: Column) -> dict[str, Column]:
    """Four-way extraction over a cleaned body (T1-T4, h-isac.py:69-91).

    Returns {"ip","hash","url","email"} → ArrayType(String) columns with
    refang applied to ips/urls/emails and mailto stripped from emails —
    exactly the post-processing at h-isac.py:82-84 (hashes are left as-is).
    """
    return _extract_cleaned(clean_text(body))


def _extract_cleaned(cleaned: Column) -> dict[str, Column]:
    return {
        "ip": F.transform(extract_all(cleaned, IP_PATTERN), refang),
        "hash": extract_all(cleaned, HASH_PATTERN),
        "url": F.transform(extract_all(cleaned, URL_PATTERN), refang),
        "email": F.transform(
            extract_all(cleaned, EMAIL_PATTERN), lambda e: strip_mailto(refang(e))
        ),
    }


def explode_iocs(
    df: DataFrame, text: Column, platform: str, **carry: Column
) -> DataFrame:
    """The canonical 8-column long IOC table (README.md:13-29): one row
    per (message, type, ioc), shared by the batch and stream paths.

    ``carry`` names the per-message columns ``id``, ``date_added``,
    ``date_received``, ``source`` and ``tag``.  The reply cut is projected
    once per message before the four extractions read it: inlined into
    the explode's Generate, which has no subexpression elimination, it
    would run once per pattern.
    """
    msgs = df.select(
        *(c.alias(n) for n, c in carry.items()), clean_text(text).alias("cleaned")
    )
    iocs = _extract_cleaned(F.col("cleaned"))
    pairs = F.array(
        *(
            F.struct(F.lit(t).alias("type"), arr.alias("iocs"))
            for t, arr in iocs.items()
        )
    )
    return msgs.select(*carry, F.explode(pairs).alias("p")).select(
        "id",
        "date_added",
        "date_received",
        F.explode(F.col("p.iocs")).alias("ioc"),
        F.lit(platform).alias("platform"),
        "source",
        "tag",
        F.col("p.type").alias("type"),
    )


def extract_host(ioc: Column) -> Column:
    """Host normalization used by classification (firehose.py:88).

    ``urlparse(x).netloc`` is non-empty only for scheme-ful inputs; this
    regex form gives the same host for ``...//host/...`` inputs and keeps
    the raw value for scheme-less ones (documented divergence — the
    reference collapses scheme-less inputs to "")."""
    return F.when(
        ioc.contains("//"), F.regexp_extract(ioc, r"//([^/?#]*)", 1)
    ).otherwise(ioc)


def classify_ioc(ioc: Column) -> Column:
    """Type classification decision tree (T12, firehose.py:82-103):
    ip | url | hash | unmatched, over the host-normalized value."""
    host = extract_host(ioc)
    return (
        F.when(host.rlike(_CLASSIFY_IP), F.lit("ip"))
        .when(host.contains("."), F.lit("url"))
        .when(host.rlike(_CLASSIFY_HASH), F.lit("hash"))
        .otherwise(F.lit("unmatched"))
    )
