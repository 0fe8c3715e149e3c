"""Pipeline configuration.

Semantic knobs mirror the reference's ``CRE Model/config.yaml`` (cited
per-field) so parity tests exercise the same thresholds; execution knobs
(partitions, Arrow batch caps, length bucketing) are ours — the
reference is a single-process GPU stack with no distribution surface.
"""

from __future__ import annotations

from dataclasses import dataclass, field


@dataclass(frozen=True)
class PipelineConfig:
    # --- semantic knobs (reference config.yaml) ---
    max_seq_len: int = 200          # config.yaml:101
    max_span_width: int = 80        # config.yaml:102
    max_top_k_spans: int = 30       # config.yaml:135
    max_tagger_candidates: int = 512  # per-doc cap on decoded B/E candidates,
                                      # ordered by tagger score — bounds the
                                      # worst case (boundary-less text decodes
                                      # O(L²) pairs); reference analogue:
                                      # pruning cascade model.py:788-885
    max_top_k_rels: int = 200       # config.yaml:136
    predict_thd: float = 0.3        # config.yaml:75  (sigmoid threshold, tagger + heads)
    overlap_thd: float = 0.8        # config.yaml:139 (NMS IoU suppression)
    loose_tol: float = 0.15         # config.yaml:81-84 (loose matching tolerance)
    loose_width_limit: int = 8      # config.yaml:83
    rel_thd: float = 0.5            # decode threshold for the causal head (predictor.py:138-155 semantics)
    span_thd: float = 0.0           # binary span-filter keep threshold (layers_filtering.py single-logit > 0)
    hidden_dim: int = 192           # stand-in model width sized so compute/IO ratio is representative (reference: 768; see model/core.py)

    # --- reference-profile model knobs (model/reference_math.py; defaults
    # mirror the reference config.yaml) ---
    model_profile: str = "fast"     # 'fast' (model/core.py semantic stand-in, the
                                    # 100TB hot path) | 'reference' (faithful
                                    # frozen-weight port of the N1-N12 stack —
                                    # same interfaces, ~100x the FLOPs/doc; use
                                    # for parity runs and small corpora)
    subtoken_pooling: str = "maxpool"   # config.yaml:95 (first/last/first_last/mean/maxpool)
    tagging_mode: str = "BE"            # config.yaml:113 (BE/BECO)
    span_mode: str = "nathan"           # config.yaml:119 (nathan/firstlast_grapher/
                                        # firstlast/spert/attn span-rep modes)
    rel_mode: str = "between_window_context"  # config.yaml:152 (between_window_context/
                                        # no_context/between_context/window_context)
    span_win_alpha: float = 0.2         # config.yaml:120 (nathan window = round(alpha*width))
    rel_window_size: int = 30           # config.yaml:155 (±window rel context)
    use_lstm: bool = True               # config.yaml:97-99 (3-layer biLSTM enrichment)
    use_graph: bool = True              # config.yaml:166 (graph transformer)

    # --- entity linking (our addition per north_rule; no reference analogue) ---
    minhash_hashes: int = 8
    minhash_band_size: int = 4      # 2 bands; collision P = sim^4 keeps buckets small
    shingle_size: int = 3           # char shingles of the normalized mention
    link_jaccard_thd: float = 0.8
    cc_max_iters: int = 20
    lsh_max_bucket: int = 200      # skip LSH buckets larger than this —
                                    # the classic skew guard: a giant bucket
                                    # is a non-discriminative hash collision
                                    # (near-dup recall unaffected: true
                                    # variants also collide in small buckets)

    # --- execution knobs (ours) ---
    link_driver_max_forms: int = 200_000
                                    # adaptive cutover for the linking tail
                                    # (same spirit as Catalyst's broadcast-vs-
                                    # shuffle selection and the CC driver
                                    # union-find gate): a form vocabulary at
                                    # or below this collects to the driver
                                    # (~20 B/form -> a few MB) and links
                                    # single-process; above it, the
                                    # distributed MinHash-LSH + star-
                                    # contraction path runs. Labels are
                                    # identical either way (pytest-gated).
    shuffle_partitions: int = 32
    arrow_max_records: int = 512    # size-capped Arrow batches (input_hint)
    table_format: str = "parquet"   # 'iceberg' on a real cluster; parquet in sandbox

    extra: dict = field(default_factory=dict)

    def __post_init__(self) -> None:
        # 0 would mean 'no spans' on the Spark side ([:0] slice) but 'no
        # cap' in the oracle — a legal-looking value that silently breaks
        # Spark/oracle parity. Reject it at construction instead.
        if self.max_tagger_candidates < 1:
            raise ValueError(
                f"max_tagger_candidates must be >= 1 (got {self.max_tagger_candidates}); "
                "use a large value for 'effectively uncapped'")


DEFAULT_CONFIG = PipelineConfig()


def config_from_dict(d: dict) -> PipelineConfig:
    """Reference config_manager analogue: build a PipelineConfig from a
    plain dict (e.g. parsed YAML), rejecting unknown keys loudly — the
    reference's config_manager.py validates config.yaml the same way
    (a typo'd knob must fail the run, not silently keep the default).
    Keys not on the dataclass land in `extra` ONLY when nested under an
    explicit 'extra' mapping."""
    from dataclasses import fields as _fields

    fields = {f.name: f for f in _fields(PipelineConfig)}
    unknown = set(d) - set(fields)
    if unknown:
        raise ValueError(
            f"unknown config keys {sorted(unknown)}; known keys: {sorted(fields)}")
    # value-type validation: a quoted number or scalar-for-mapping typo
    # in YAML must fail HERE, not detonate far away inside run_pipeline
    # (same contract as the key check). int -> float is the one
    # permitted coercion (YAML '1' for a float knob).
    base_types = {"int": int, "float": float, "bool": bool, "str": str,
                  "dict": dict}
    # fail-loudly contract (ADVICE r03): EVERY dataclass field must
    # resolve to a validatable base type, provided in this dict or not —
    # otherwise a future Optional/union-annotated knob would silently
    # bypass value validation. This makes an unvalidatable annotation a
    # test-time failure (tests exercise config_from_dict), not a skip.
    for fname, f in fields.items():
        if str(f.type).replace("builtins.", "") not in base_types:
            raise TypeError(
                f"config field {fname!r}: annotation {f.type!r} is not a "
                "validatable base type (int/float/bool/str/dict); add it "
                "to the validation map in config_from_dict")
    coerced = {}
    for k, v in d.items():
        want = fields[k].type
        base = base_types.get(str(want).replace("builtins.", ""), None)
        if base is float and isinstance(v, int) and not isinstance(v, bool):
            v = float(v)
        elif base is int and isinstance(v, bool):
            raise ValueError(f"config key {k!r}: expected int, got bool {v!r}")
        if base is not None and not isinstance(v, base):
            raise ValueError(
                f"config key {k!r}: expected {base.__name__}, "
                f"got {type(v).__name__} {v!r}")
        coerced[k] = v
    return PipelineConfig(**coerced)


def config_from_yaml(path: str) -> PipelineConfig:
    """Load a PipelineConfig from a YAML file (the reference's
    `start.py --config config.yaml` entry surface)."""
    import yaml

    with open(path, "r", encoding="utf-8") as fh:
        data = yaml.safe_load(fh) or {}
    if not isinstance(data, dict):
        raise ValueError(f"config file {path!r} must hold a mapping")
    return config_from_dict(data)
