"""Definitions shared by more than one query family."""


# severity mapping per event_type (the enrich dimension, inline).
_SEV_CASES = [
    ("error", "CRITICAL", 2),
    ("purchase", "WARNING", 4),
    ("signup", "INFO", 6),
    ("click", "NOTICE", 5),
    ("view", "DEBUG", 7),
]
