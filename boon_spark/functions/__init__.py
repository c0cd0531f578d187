"""Column-level building blocks: formats, content encodings and media
types, ECMA regex translation.

``generation`` counts the changes to the three extension registries
(``formats.FORMATS``, ``content.ENCODINGS``, ``content.MEDIA_TYPES``):
every ``register_*`` call bumps it.  The engine's plan memo keys on it,
so a format re-registered under the same name is never served from a
plan built with the old one.
"""

import itertools

_counter = itertools.count(1)
generation = 0


def bump_generation() -> None:
    global generation
    generation = next(_counter)
