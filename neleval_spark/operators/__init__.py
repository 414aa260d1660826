from .normalize import (  # noqa: F401
    derive_mention_columns,
    field_col,
    normalise_link_col,
    apply_mapping,
    sort_candidates,
    with_is_first,
)
