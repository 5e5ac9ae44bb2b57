"""Physical-plan introspection (see :mod:`.inspect`)."""
