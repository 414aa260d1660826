from .connected_components import connected_components  # noqa: F401
