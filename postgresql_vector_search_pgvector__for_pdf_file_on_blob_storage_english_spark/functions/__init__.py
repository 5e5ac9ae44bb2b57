"""Expression builders: vector distances, text transforms, embedding,
portable hashing."""
