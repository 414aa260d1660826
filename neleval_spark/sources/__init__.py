from .tsv import (read_annotations_tsv, parse_annotation_lines,  # noqa: F401
                  annotations_to_tsv_lines)
