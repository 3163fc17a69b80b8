"""Query plans: the domain modules, the MovieLens pipeline and the four
reference queries. ``analytics`` holds the ordered registry and is
imported only by the code that serves it."""
