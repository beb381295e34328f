"""Pipeline configuration — the analog of the reference's engine config.

The reference records a ``TesseractConfiguration {datapath, language,
variables: HashMap<String,String>}`` (/root/reference/src/api.rs:12-17) and
replays it on ``try_clone`` (/root/reference/src/api.rs:1423-1446).  Our
analog is an immutable dataclass that the driver broadcasts once; every
executor task constructs its kernel state from it — Spark's task model *is*
the clone-replay.

Variable semantics we reproduce (string-typed map, parsed by the engine,
/root/reference/src/api.rs:132-153):

- ``tessedit_char_whitelist`` / ``tessedit_char_blacklist`` — restrict the
  emitted character set (tests/integration_test.rs:102-106, 129-130).
- ``preserve_interword_spaces`` — keep source whitespace runs instead of
  collapsing to single spaces (tests/integration_test.rs:99-100).

The page-segmentation-mode (PSM) analog selects the pipeline shape
(/root/reference/src/enums.rs:4-20 via api.rs:259-266): for web pages the
modes select how much layout analysis runs.
"""

from __future__ import annotations

from dataclasses import dataclass, field, replace


# PSM analog for web-page extraction (reference PSM: enums.rs:4-20).
MODE_AUTO = 3          # full layout analysis + boilerplate classification (PSM_AUTO)
MODE_SINGLE_BLOCK = 6  # treat the whole page as one block of text (PSM_SINGLE_BLOCK)
MODE_RAW = 13          # raw text runs in source order, no boilerplate strip (PSM_RAW_LINE)

_VALID_MODES = (MODE_AUTO, MODE_SINGLE_BLOCK, MODE_RAW)

# OEM analog (tessedit_ocr_engine_mode, /root/reference/src/api.rs init_1;
# reference enums: 0=legacy, 1=LSTM, 2=both, 3=default):
OEM_TEMPLATE = 0   # exact Hamming template matcher (legacy-engine analog)
OEM_NCC = 1        # normalized-correlation matcher (LSTM-engine analog)
OEM_DEFAULT = 3    # resolves to OEM_TEMPLATE


def mode_from_int(value: int) -> int:
    """Total decode with default-on-invalid, mirroring the reference's
    ``PageSegMode::from_int`` (out-of-range -> PSM_AUTO,
    /root/reference/src/enums.rs:23-42)."""
    return value if value in _VALID_MODES else MODE_AUTO


def oem_from_int(value: int) -> int:
    """OEM decode with default-on-invalid (reference OEM enum semantics:
    2='both' and 3='default' resolve to the default engine)."""
    return value if value in (OEM_TEMPLATE, OEM_NCC) else OEM_DEFAULT


@dataclass(frozen=True)
class ExtractConfig:
    """Immutable extraction config; broadcast to executors once."""

    lang: str = "eng"
    mode: int = MODE_AUTO

    # Recognizer-engine selector (init_1 / tessedit_ocr_engine_mode):
    # OEM_TEMPLATE = exact Hamming matcher, OEM_NCC = normalized
    # cross-correlation matcher.  Both decode clean pages identically;
    # they diverge (by design) on degraded glyphs — the observable
    # engine-mode switch (/root/reference/tests/integration_test.rs:22).
    oem: int = OEM_DEFAULT

    # Source resolution in ppi (set_source_resolution /
    # get_source_y_resolution, /root/reference/src/api.rs:432-438,
    # 1017-1028); consumed by pointsize derivation.
    source_dpi: int = 96

    # Character-set predicates (tessedit_char_whitelist/blacklist analogs).
    char_whitelist: str | None = None
    char_blacklist: str | None = None

    # Whitespace contract (preserve_interword_spaces analog).
    preserve_interword_spaces: bool = False

    # Boilerplate classifier thresholds (densitometric, Boilerpipe-style).
    min_content_words: int = 5       # blocks shorter than this need rescue rules
    max_link_density: float = 0.40   # above this a block is navigation-like
    keep_headings: bool = True

    # ROI analog of set_rectangle (/root/reference/src/api.rs:1289-1296):
    # restrict extraction to a source-offset window of the decoded document
    # (HTML path) or to a pixel rectangle (left, top, width, height) of the
    # page (raster path; emitted boxes stay in absolute page coordinates,
    # as the reference's iterator does).
    roi_start: int | None = None
    roi_end: int | None = None
    roi_rect: tuple | None = None

    # OSD decision margin (set_min_orientation_margin analog,
    # /root/reference/src/api.rs:640-647): the non-default orientation in
    # each detect_os disambiguation pair wins only when its decode score
    # beats the default's by at least this much.  A huge margin pins the
    # decision to the pair's default (0 for upright/180, 90 for
    # sideways) — the observable knob the driver query exercises.
    min_orientation_margin: float = 5.0

    # Per-page wall-clock budget — the TessMonitor deadline /
    # process_pages timeout analog (/root/reference/src/monitor.rs:18-50,
    # src/api.rs:844-875).  A page that exceeds it yields a
    # status='timeout' row instead of stalling the task.
    page_timeout_ms: int | None = None

    # Free-form string variable map (api.rs:16) for forward-compat knobs.
    variables: dict[str, str] = field(default_factory=dict)

    def with_variable(self, name: str, value: str) -> "ExtractConfig":
        """set_variable analog (/root/reference/src/api.rs:132-153): returns
        a new config with the variable recorded; typed knobs are mirrored."""
        new_vars = dict(self.variables)
        new_vars[name] = value
        kwargs: dict = {"variables": new_vars}
        if name == "tessedit_char_whitelist":
            kwargs["char_whitelist"] = value
        elif name == "tessedit_char_blacklist":
            kwargs["char_blacklist"] = value
        elif name == "preserve_interword_spaces":
            kwargs["preserve_interword_spaces"] = value.strip() == "1"
        elif name == "page_timeout_ms":
            kwargs["page_timeout_ms"] = int(value)
        elif name == "tessedit_ocr_engine_mode":
            kwargs["oem"] = oem_from_int(int(value))
        elif name == "source_resolution":
            kwargs["source_dpi"] = int(value)
        elif name == "min_orientation_margin":
            kwargs["min_orientation_margin"] = float(value)
        return replace(self, **kwargs)

    def with_config_text(self, text: str) -> "ExtractConfig":
        """read_config_file semantics over config TEXT: ``name value``
        lines (blank lines and ``#`` comments skipped) through the same
        typed ``with_variable`` path.  The text form is the distributed
        primitive — a config file exists on the driver, but executors
        replay the broadcast parsed config, so the loader must not
        depend on a filesystem path being visible cluster-wide."""
        cfg = self
        for raw in text.splitlines():
            line = raw.strip()
            if not line or line.startswith("#"):
                continue
            name, _, value = line.partition(" ")
            if not value:
                raise ValueError(f"malformed config line: {raw!r}")
            cfg = cfg.with_variable(name, value.strip())
        return cfg

    def with_config_file(self, path: str) -> "ExtractConfig":
        """read_config_file analog (/root/reference/src/api.rs:791-818):
        bulk-load a driver-local config file via :meth:`with_config_text`.
        ``read_debug_config_file`` is this with a debug-only variables
        file — identical loader."""
        with open(path, encoding="utf-8") as f:
            return self.with_config_text(f.read())

    @property
    def langs(self) -> tuple:
        """Joint-recognition language list — ``lang="eng+tur"`` decodes
        every word against both models and keeps the best
        (/root/reference/tests/integration_test.rs:91-120)."""
        return tuple(self.lang.split("+"))

    def get_variable(self, name: str) -> str:
        """Typed variable read; unknown name is an error, mirroring
        get_*_variable (/root/reference/src/api.rs:164-248,
        tests/test_api.rs:1083)."""
        if name not in self.variables:
            raise KeyError(f"unknown variable: {name}")
        return self.variables[name]

    def print_variables(self) -> str:
        """print_variables_to_file analog: one ``name\\tvalue`` line per
        recorded variable, sorted — a deterministic debug dump the caller
        writes wherever it wants (files are the caller's concern in a
        distributed engine)."""
        return "".join(
            f"{k}\t{v}\n" for k, v in sorted(self.variables.items())
        )
