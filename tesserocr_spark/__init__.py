"""tesserocr_spark — a PySpark-native main-content extraction engine.

A from-scratch re-expression of sirfz/tesserocr's page-analysis semantics
(BLOCK→PARA→TEXTLINE→WORD→SYMBOL span hierarchy, RIL-style result iteration,
GetUTF8Text-equivalent folding, multi-format renderers) for Common-Crawl-style
web pages on Apache Spark: declarative DataFrame plans for everything
relational, one vectorized Arrow UDF for the extraction itself.

Reference (study-only, no code copied): /root/reference (sirfz/tesserocr),
cited throughout as tesserocr/tesserocr.pyx:line.
"""

__version__ = "0.1.0"

from . import _zipcache
from .config import DEFAULT_CONFIG, ExtractorConfig, read_config_file
from .constants import DIR, OEM, PSM, PT, RIL, Justification, LeptLogLevel, Orientation

__all__ = [
    "DEFAULT_CONFIG",
    "DIR",
    "ExtractorConfig",
    "Justification",
    "LeptLogLevel",
    "OEM",
    "Orientation",
    "PSM",
    "PT",
    "RIL",
    "__version__",
    "read_config_file",
    "set_leptonica_log_level",
]

# every Spark Python worker imports this package root when it unpickles an
# engine UDF: stop its per-task importlib.invalidate_caches() from
# re-reading pyspark.zip (see _zipcache)
_zipcache.install()


def tesseract_version() -> str:
    """Version string (reference tesseract_version, tesserocr/tesserocr.pyx:2782-2788)."""
    return f"tesserocr_spark {__version__}"


#: LeptLogLevel -> log4j level for set_leptonica_log_level. EXTERNAL (0)
#: means "severity from the environment" — mapped to None = leave the
#: environment-configured log4j level untouched.
_LEPT_TO_LOG4J = {
    0: None,  # EXTERNAL: defer to environment default
    1: "ALL",
    2: "DEBUG",
    3: "INFO",
    4: "WARN",
    5: "ERROR",
    6: "OFF",
}


def set_leptonica_log_level(spark, level: int) -> None:
    """set_leptonica_log_level (reference tesserocr/tesserocr.pyx:2828-2833):
    the reference routes message severity to Leptonica's ``setMsgSeverity``;
    the graft's imaging backend is the Spark engine itself, so the severity
    maps onto the SparkContext's log4j level (:class:`LeptLogLevel` values).
    Unknown levels raise ValueError (the reference rejects them C-side).
    """
    try:
        lvl = _LEPT_TO_LOG4J[int(level)]
    except (KeyError, ValueError, TypeError) as exc:
        raise ValueError(f"unknown LeptLogLevel: {level!r}") from exc
    if lvl is None:  # EXTERNAL: keep whatever the environment configured
        return
    sc = getattr(spark, "sparkContext", spark)  # accept session or context
    sc.setLogLevel(lvl)
